package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Spark work attributed to one job group: jobs launched, tasks run, task
  * time, bytes read from input files, shuffle bytes (read + written),
  * bytes written to output files and task GC time. */
final class Work {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val gcMs = new AtomicLong
}

/** One listener for the whole run. Every job carries the job group of the
  * span that launched it (`spark.jobGroup.id`); its stages and tasks are
  * charged to that group. Listener events arrive asynchronously, so the
  * counters are read only after the SparkContext has stopped (which
  * drains the listener bus). */
final class WorkListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]
  val byGroup = new ConcurrentHashMap[String, Work]

  def work(group: String): Work = byGroup.computeIfAbsent(group, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, g))
    work(g).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val w = work(stageGroup.getOrDefault(e.stageId, "none"))
    w.tasks.incrementAndGet()
    w.taskMs.addAndGet(m.executorRunTime)
    w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
    w.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
      m.shuffleWriteMetrics.bytesWritten)
    w.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    w.gcMs.addAndGet(m.jvmGCTime)
  }
}

/** A span: one call from the benchmark into an engine layer. Spans of one
  * request (a query, a build, an NRT step) share `request`. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. With tracing off it only runs the body: no job
  * groups are set and no listener is attached, so untraced runs pay
  * nothing. With tracing on, each span sets a job group named after its
  * id for the duration of the call, so the [[WorkListener]] charges the
  * Spark work launched inside it to that span (innermost span wins). */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val listener: Option[WorkListener] =
    if (on) { val l = new WorkListener; sc.addSparkListener(l); Some(l) } else None
  val spans = new ArrayBuffer[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var request = 0L

  def newRequest(): Long = { request += 1; request }

  def span[A](name: String)(f: => A): A = {
    if (!on) return f
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      spans += Span(id, name, parent, request, t0, t1)
    }
  }

  /** Work charged to a span and all spans below it. */
  def workOf(s: Span): Seq[Work] = {
    val kids = spans.filter(_.parent == s.id)
    listener.flatMap(l => Option(l.byGroup.get(s.id.toString))).toSeq ++
      kids.flatMap(workOf)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJson: String = spans.map { s =>
    val w = workOf(s)
    def sum(f: Work => AtomicLong) = w.map(f(_).get).sum
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${sum(_.jobs)},""" +
      s""""tasks":${sum(_.tasks)},"task_ms":${sum(_.taskMs)},"input_bytes":${sum(_.inputBytes)},""" +
      s""""shuffle_bytes":${sum(_.shuffleBytes)},"output_bytes":${sum(_.outputBytes)},""" +
      s""""gc_ms":${sum(_.gcMs)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
