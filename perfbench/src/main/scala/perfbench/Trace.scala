package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span. */
final class Counters {
  val jobs, tasks, recordsRead, recordsWritten, shuffleWriteBytes, gcMs = new AtomicLong
  /** Task launch minus stage submission, one entry per task. */
  val taskWaitMs = new ConcurrentLinkedQueue[java.lang.Long]
}

/** One timed call into the engine. Spans of one request share `req`. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder plus a SparkListener that charges every job,
  * task and byte to the span whose id the calling thread put in the
  * `perfbench.span` local property. The listener stays registered for the
  * whole run; while `enabled` is false no span is recorded and the jobs
  * that start are not counted. Spans are written out by `dump` when the
  * run ends.
  */
final class Trace(sc: SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }
  private val counters = new ConcurrentHashMap[Long, Counters]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]
  val Property = "perfbench.span"
  /** Where the jobs started while tracing is off are charged. */
  private val Untraced = -1L

  private def countersOf(span: Long) = counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
        .map(_.toLong).getOrElse(if (enabled) 0L else Untraced)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      countersOf(span).jobs.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(stageSpan.getOrDefault(e.stageId, 0L))
      c.tasks.incrementAndGet()
      Option(stageSubmitted.get(e.stageId)).foreach(s =>
        c.taskWaitMs.add(math.max(0L, e.taskInfo.launchTime - s)))
      Option(e.taskMetrics).foreach { m =>
        c.recordsRead.addAndGet(m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
        c.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  sc.addSparkListener(listener)

  /** Both wait until the listener has seen the events of every job run so
    * far, so that a job is charged by the state it started in and the
    * counters are complete when tracing stops. */
  def start(): Unit = { drain(); enabled = true }
  def stop(): Unit = { drain(); enabled = false }
  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Runs `f` with tracing off: harness work that no layer metric counts. */
  def off[A](f: => A): A =
    if (!enabled) f
    else { stop(); try f finally start() }

  /** Times `f` as span `name`, child of the thread's current span. While
    * tracing, the span id rides in the thread's local property so that the
    * listener can charge the Spark jobs `f` starts to it. */
  def span[A](name: String, req: Long = 0L)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      val prevProp = sc.getLocalProperty(Property)
      current.set(id)
      sc.setLocalProperty(Property, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, req, t0, System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(Property, prevProp)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def counters(name: String): Seq[Counters] =
    named(name).flatMap(s => Option(counters.get(s.id)))
  /** Counters of every traced job, including those outside any span. */
  def allCounters: Seq[Counters] =
    counters.asScala.collect { case (span, c) if span != Untraced => c }.toSeq

  /** Self time of each span: its duration minus the part of it that its
    * children cover. Children of one span may overlap; their union counts. */
  def selfNs: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Writes every span as one JSON object per line. */
  def dump(file: java.io.File): Unit = {
    val self = selfNs
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      val c = Option(counters.get(s.id))
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)},""" +
        s""""jobs":${c.map(_.jobs.get).getOrElse(0L)},"tasks":${c.map(_.tasks.get).getOrElse(0L)},""" +
        s""""records_read":${c.map(_.recordsRead.get).getOrElse(0L)},""" +
        s""""records_written":${c.map(_.recordsWritten.get).getOrElse(0L)},""" +
        s""""shuffle_write_bytes":${c.map(_.shuffleWriteBytes.get).getOrElse(0L)},""" +
        s""""gc_ms":${c.map(_.gcMs.get).getOrElse(0L)}}""")
    }
    finally w.close()
  }
}
