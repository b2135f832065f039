package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval around a call into a graft layer. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. With `enabled = false` every call is a plain
  * pass-through: no span is kept and no Spark local property is set, so
  * the untraced run measures the program alone.
  *
  * A span's id is published as the Spark local property [[Trace.SpanKey]]
  * on the calling thread, so the [[EngineListener]] can charge every job
  * the call starts to the span that caused it. */
final class Trace(@volatile var enabled: Boolean, val runId: String) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(1)
  private val current = new ThreadLocal[Int] { override def initialValue() = 0 }
  @volatile private var sc: SparkContext = _

  def bind(context: SparkContext): Unit = sc = context

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = current.get()
      val ctx = sc
      current.set(id)
      if (ctx != null) ctx.setLocalProperty(Trace.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, runId, t0, System.nanoTime()))
        current.set(parent)
        if (ctx != null)
          ctx.setLocalProperty(Trace.SpanKey,
            if (parent == 0) null else parent.toString)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name: each span's duration minus the part of it
    * that its child spans cover, summed over the spans of one name that
    * start at or after `since` (ms). */
  def selfMs(since: Long): Map[String, Double] = {
    val ss = all.filter(_.startNs >= since)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""run":${Json.str(s.runId)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Trace {
  val SpanKey = "perfbench.span"
}

/** Engine counters from the listener bus, in total and per causing span
  * (read back from the local property [[Trace.SpanKey]]). */
final class EngineListener extends SparkListener {
  import EngineListener._

  private val total = new Counters
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  def snapshot(): Totals = total.read
  def forSpan(id: Int): Option[Totals] = Option(bySpan.get(id)).map(_.read)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toInt).getOrElse(0)

  private def both(span: Int)(f: Counters => Unit): Unit = {
    f(total)
    if (span != 0) f(bySpan.computeIfAbsent(span, _ => new Counters))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, span))
    both(span)(_.jobs.incrementAndGet())
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, span)
    both(span)(_.stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0)
    val m = e.taskMetrics
    val info = e.taskInfo
    both(span) { c =>
      c.tasks.incrementAndGet()
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type])
        c.taskFailures.incrementAndGet()
      if (m != null) {
        // scheduler delay as the Spark UI derives it
        val delay = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        c.schedDelayMs.addAndGet(math.max(0L, delay))
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}

object EngineListener {
  final class Counters {
    val jobs, stages, tasks, taskFailures = new AtomicLong
    val schedDelayMs, runMs, cpuNs, gcMs = new AtomicLong
    val inputBytes, shuffleWrite, shuffleRead, fetchWaitMs, spill = new AtomicLong
    def read: Totals = Totals(jobs.get, stages.get, tasks.get, taskFailures.get,
      schedDelayMs.get, runMs.get, cpuNs.get, gcMs.get, inputBytes.get,
      shuffleWrite.get, shuffleRead.get, fetchWaitMs.get, spill.get)
  }

  final case class Totals(jobs: Long, stages: Long, tasks: Long,
                          taskFailures: Long, schedDelayMs: Long, runMs: Long,
                          cpuNs: Long, gcMs: Long, inputBytes: Long,
                          shuffleWrite: Long, shuffleRead: Long,
                          fetchWaitMs: Long, spill: Long) {
    def minus(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, taskFailures - o.taskFailures,
      schedDelayMs - o.schedDelayMs, runMs - o.runMs, cpuNs - o.cpuNs,
      gcMs - o.gcMs, inputBytes - o.inputBytes, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, fetchWaitMs - o.fetchWaitMs, spill - o.spill)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
