package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Spark counters attributed to one span. Written only from the listener
  * thread; read after the listener bus has drained. */
final class Counters {
  var jobs = 0L
  var constructJobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskBusyMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
}

/** One timed call. `name` is `<module>.<Object>.<function>` for calls into
  * the library and `<workload>.<step>` for the benchmark's own roots. */
final class Span(val id: Long, val parent: Long, val traceId: Long,
                 val name: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  /** Time the call took to return its DataFrame (the construct phase). */
  @volatile var constructNs: Long = -1L
  /** Catalyst phase times of the returned DataFrame, when there is one. */
  @volatile var phasesMs: Map[String, Long] = Map.empty
  val counters = new Counters
  def module: String = name.takeWhile(_ != '.')
}

/** Records spans around the benchmark's calls into the library and
  * attributes Spark job, stage and task counters to them.
  *
  * Each span runs its Spark work under its own job group
  * (`SparkContext.setJobGroup`, mirrored in a local property), and the
  * listener maps a job back to its span; the construct phase of a call runs under a second group so
  * jobs launched while building the DataFrame (silver builds) are told
  * apart from jobs launched by the action. Spans are kept in memory and
  * written out by the caller when the run ends. When `enabled` is false
  * every method is a pass-through, so the untraced run pays nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Span]
  private val traceOf = new ThreadLocal[java.lang.Long]
  private val overheadNs = new AtomicLong(0)

  private object Listener extends SparkListener {
    private val stageSpan = mutable.HashMap[Int, Span]()
    private val stageSubmit = mutable.HashMap[Int, Long]()

    // A streaming query's execution thread inherits the caller's local
    // properties but replaces the job group with its run id, so the span
    // is read from a property of its own, set beside the job group.
    private def groupSpan(props: java.util.Properties): Option[(Span, Boolean)] =
      Option(props).flatMap(p => Option(p.getProperty(SpanProperty)))
        .filter(_.startsWith("pb-")).flatMap { g =>
          val construct = g.endsWith("-c")
          val id = g.stripPrefix("pb-").stripSuffix("-c").toLong
          Option(spans.get(id)).map(_ -> construct)
        }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      groupSpan(e.properties).foreach { case (s, construct) =>
        s.counters.jobs += 1
        if (construct) s.counters.constructJobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stageSubmit.remove(e.stageInfo.stageId)
      stageSpan.remove(e.stageInfo.stageId)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { s =>
        val c = s.counters
        val info = e.taskInfo
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        c.taskBusyMs += info.duration
        stageSubmit.get(e.stageId).foreach(t0 =>
          c.schedDelayMs += math.max(0L, info.launchTime - t0))
        Option(e.taskMetrics).foreach { m =>
          c.gcMs += m.jvmGCTime
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.diskBytesSpilled
          c.inputB += m.inputMetrics.bytesRead
          c.outputB += m.outputMetrics.bytesWritten
        }
      }
  }

  if (enabled) sc.addSparkListener(Listener)

  /** Start a new trace id (one per request or wave) on this thread. */
  def newTrace(): Unit = if (enabled) traceOf.set(ids.incrementAndGet())

  private val SpanProperty = "perfbench.span"

  private def setGroup(g: Option[String]): Unit = {
    g match {
      case Some(id) => sc.setJobGroup(id, id, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
    sc.setLocalProperty(SpanProperty, g.orNull)
  }

  private def open(name: String): (Span, Span) = {
    val t = System.nanoTime()
    val parent = current.get
    val trace = Option(traceOf.get).map(_.longValue)
      .orElse(Option(parent).map(_.traceId)).getOrElse(0L)
    val s = new Span(ids.incrementAndGet(), Option(parent).fold(0L)(_.id),
      trace, name, System.nanoTime())
    spans.put(s.id, s)
    current.set(s)
    overheadNs.addAndGet(System.nanoTime() - t)
    (s, parent)
  }

  private def close(s: Span, parent: Span): Unit = {
    s.endNs = System.nanoTime()
    current.set(parent)
    setGroup(Option(parent).map(p => s"pb-${p.id}"))
  }

  /** Time `body` as one span; Spark work inside it is attributed to it. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (s, parent) = open(name)
      setGroup(Some(s"pb-${s.id}"))
      try body finally close(s, parent)
    }

  /** A call into the library that returns a DataFrame, then the action that
    * consumes it. The construct phase (the call) runs under its own job
    * group; the Catalyst phase times of the returned plan are recorded
    * after the action. */
  def call[A](name: String)(construct: => DataFrame)(action: DataFrame => A): A =
    if (!enabled) action(construct)
    else {
      val (s, parent) = open(name)
      try {
        setGroup(Some(s"pb-${s.id}-c"))
        val df = construct
        s.constructNs = System.nanoTime() - s.startNs
        setGroup(Some(s"pb-${s.id}"))
        val out = action(df)
        s.phasesMs = df.queryExecution.tracker.phases
          .map { case (k, v) => k -> v.durationMs }
        out
      } finally close(s, parent)
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.values().asScala.toSeq.sortBy(_.id)

  def bookkeepingMs: Double = overheadNs.get / 1e6
}

object SpanMath {

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. Children may overlap each other
    * (concurrent calls) and may run past the parent's end; only the
    * covered part of the parent's own interval is subtracted. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> math.max(0L, (s.endNs - s.startNs) - unionLength(clipped))
    }.toMap
  }
}
