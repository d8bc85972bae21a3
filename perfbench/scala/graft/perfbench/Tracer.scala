package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** In-memory span recorder plus a SparkListener that charges every
  * job, stage and task event to the innermost open span.
  *
  * Only one op runs at a time, and the listener bus is drained at every
  * span boundary, so an event always lands in the span during which it
  * was posted.  Spans are kept in memory and written out at the end of
  * the run; self time and the uncovered remainder are derived from
  * them afterwards (perfbench/metrics.py).
  */
final class Tracer(spark: SparkSession) {
  final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
      val startNs: Long) {
    var endNs = 0L
    val counters: mutable.Map[String, Double] =
      mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var opId = 0
  /** Driver-side end times (epoch ms) of every job seen. */
  val jobEndsMs = mutable.ArrayBuffer.empty[Long]

  private def charge(key: String, v: Double): Unit = synchronized {
    stack.headOption.foreach(s => s.counters(key) += v)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = charge("jobs", 1)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobEndsMs += e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      charge("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      charge("tasks", 1)
      if (m != null) {
        charge("executor_cpu_ns", m.executorCpuTime.toDouble)
        charge("result_bytes", m.resultSize.toDouble)
        charge("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        charge("shuffle_read_records", m.shuffleReadMetrics.recordsRead.toDouble)
        charge("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Runs `f` as one op: a root span named "op" with a fresh op id. */
  def op[T](f: => T): T = {
    opId += 1
    span("op")(f)
  }

  def span[T](name: String)(f: => T): T = {
    drain()
    val s = synchronized {
      val s = new Span(spans.length + 1, stack.headOption.fold(0)(_.id), opId,
        name, System.nanoTime())
      spans += s
      stack = s :: stack
      s
    }
    try f
    finally {
      drain()
      synchronized {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }
  }

  /** Every recorded span as JSON values, times relative to `origin` (ns). */
  def spansJson(origin: Long): Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
      "counters" -> s.counters.toMap))
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
  }
}

/** Minimal JSON writer for the run record (numbers, strings, booleans,
  * null, maps and sequences).
  */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
