package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** A timed region opened by the harness around one call into an engine
  * layer. Spans of one query execution or ingest phase share `group`. */
final case class Span(id: Int, name: String, layer: String, group: String,
    parent: Int, start: Long) {
  @volatile var end: Long = -1L
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Off in untraced runs, where [[span]] only runs
  * its body. While a span is open its id rides the SparkContext local
  * property [[SpanKey]], so every job, stage and task the body causes is
  * attributed to it by [[SparkCounters]]. */
object Trace {
  val SpanKey = "perfbench.span"
  @volatile var on = false
  @volatile var sc: SparkContext = _
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  // inheritable: the streaming thread starts under the phase span open on
  // the thread that started the query
  private val open = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def span[T](name: String, layer: String, group: String = null)(body: => T): T =
    if (!on) body
    else {
      val stack = open.get
      val g = Option(group).orElse(stack.headOption.map(_.group)).getOrElse(name)
      val s = Span(ids.incrementAndGet(), name, layer, g,
        stack.headOption.map(_.id).getOrElse(0), System.nanoTime())
      spans.add(s)
      open.set(s :: stack)
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open.set(stack)
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.filter(_.end >= 0).sortBy(_.start)

  /** Engine layer of a job, from the first engine frame of its call site. */
  def layerOf(callSite: String): Option[String] = {
    val Frame = """(?m)^\s*(?:at\s+)?graft\.(\w+)""".r
    Frame.findFirstMatchIn(Option(callSite).getOrElse("")).map(_.group(1)).map {
      case "Tables" => "Tables"
      case p if p.head.isLower => p
      case _ => "graft"
    }
  }
}

/** Scheduler counters of one span (Spark's own task metrics). */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, gcMs, shuffleWrite, shuffleRead, spill, inputBytes = 0L
  val jobMsByLayer = mutable.Map[String, Long]().withDefaultValue(0L)
  val persisted = mutable.Set[Int]()
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes
    o.jobMsByLayer.foreach { case (l, ms) => jobMsByLayer(l) += ms }
    persisted ++= o.persisted
  }
}

/** SparkListener that files job, stage and task metrics under the span
  * that submitted them, and job wall time under the engine layer whose
  * code submitted the job. */
final class SparkCounters extends SparkListener {
  private val bySpan = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobSpan = mutable.Map[Int, (Int, Long, String)]()
  @volatile private var drained = Set[Int]()

  private def of(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)
  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Trace.SpanKey)))
      .flatMap(_.toIntOption).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    of(s).jobs += 1
    e.stageIds.foreach(stageSpan(_) = s)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobSpan(e.jobId) = (s, e.time, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0, site) =>
      of(s).jobMsByLayer(Trace.layerOf(site).getOrElse("harness")) += e.time - t0
      if (s < 0) drained += -s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageInfo.stageId, 0))
    c.stages += 1
    e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach(r => c.persisted += r.id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, 0))
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Counters of the given spans, summed. */
  def sum(spans: Iterable[Int]): Counters = synchronized {
    val out = new Counters
    spans.foreach(s => bySpan.get(s).foreach(out += _))
    out
  }

  /** Blocks until every event posted before this call has been delivered:
    * the listener queue is FIFO, so seeing the end of a marker job is
    * enough. */
  def drain(sc: SparkContext): Unit = {
    val marker = 1000000 + scala.util.Random.nextInt(1000000)
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, (-marker).toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.SpanKey, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!drained.contains(marker) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }
}

/** Micro-batch progress of the streaming runs in [[runs]], as Spark
  * reports it. */
final class StreamCounters extends StreamingQueryListener {
  val runs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
  val progress = new ConcurrentLinkedQueue[QueryProgressEvent]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e)

  /** Progress of the recorded runs once `n` events of theirs have arrived
    * (they come on their own listener queue). */
  def of(n: Int): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    def mine = progress.asScala.toSeq.map(_.progress).filter(p => runs.contains(p.runId))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (mine.size < n && System.nanoTime() < deadline) Thread.sleep(5)
    mine
  }
}
