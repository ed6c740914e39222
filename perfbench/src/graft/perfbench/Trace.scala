package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. `layer` names the repository module the time is
  * charged to (`bench` for the harness itself); `parent` is the id of
  * the enclosing span, -1 for a root. Times are epoch nanoseconds on the
  * JVM's monotonic clock, offset to wall time once at start. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Off (the default) it records nothing and
  * every `span` call is a plain call of its body, so untraced runs pay
  * no tracing cost beyond one boolean test per boundary. */
final class Tracer(val on: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Id of the span that closed last, -1 before any. */
  @volatile var lastClosed: Int = -1
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** The `System.nanoTime` reading at wall-clock instant `epochMs`. */
  def nsAt(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

  def span[A](name: String, layer: String)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans += Span(id, name, layer, parent, t0, t1) }
        lastClosed = id
      }
    }

  /** The innermost open span, -1 when none is open. */
  def current: Int = stack.headOption.getOrElse(-1)

  /** Records an interval measured elsewhere (a streaming trigger or one
    * of its phases) as a child of span `parent`; returns its id. */
  def add(parent: Int, name: String, layer: String, startNs: Long, endNs: Long): Int =
    if (!on) -1
    else synchronized {
      nextId += 1
      spans += Span(nextId, name, layer, parent, startNs, endNs)
      nextId
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span: its duration minus the union of its children's
    * intervals clipped to it. */
  def selfTimes: Map[Int, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def toJson: String = {
    val ss = all.sortBy(_.startNs)
    val origin = ss.headOption.map(_.startNs).getOrElse(0L)
    ss.map { s =>
      f"""{"run_id":"$runId","id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        f""""parent":${s.parent},"start_ms":${(s.startNs - origin) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - origin) / 1e6}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Task-level counters of one job group, summed from task-end events. */
final class GroupCounters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** The one `SparkListener`: attributes every job and task to a key —
  * the job group for batch queries, `(query id, batch id)` for
  * streaming micro-batches (Structured Streaming stamps both as local
  * properties on every job a trigger runs, `foreachBatch` bodies
  * included). */
final class TaskListener extends SparkListener {
  private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val byKey = new java.util.concurrent.ConcurrentHashMap[String, GroupCounters]()
  @volatile var lastEventNs: Long = System.nanoTime()

  private def keyOf(props: java.util.Properties): String =
    if (props == null) "none"
    else Option(props.getProperty("sql.streaming.queryId")) match {
      case Some(q) => s"stream:$q:${props.getProperty("streaming.sql.batchId", "?")}"
      case None => s"group:${Option(props.getProperty("spark.jobGroup.id")).getOrElse("none")}"
    }

  private def counters(k: String) = byKey.computeIfAbsent(k, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    e.stageIds.foreach(s => stageKey.put(s, k))
    val c = counters(k)
    c.synchronized(c.jobs += 1)
    lastEventNs = System.nanoTime()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageKey.putIfAbsent(e.stageInfo.stageId, keyOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(Option(stageKey.get(e.stageId)).getOrElse("none"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    lastEventNs = System.nanoTime()
  }

  /** Listener delivery is asynchronous: wait until no event has arrived
    * for `quietMs` (bounded by `maxMs`). */
  def settle(quietMs: Long = 150, maxMs: Long = 3000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
      System.nanoTime() < deadline) Thread.sleep(20)
  }

  def sum(keyPrefix: String): GroupCounters = {
    val g = new GroupCounters
    byKey.asScala.foreach { case (k, c) =>
      if (k.startsWith(keyPrefix)) c.synchronized {
        g.jobs += c.jobs; g.tasks += c.tasks; g.cpuNs += c.cpuNs
        g.shuffleWriteBytes += c.shuffleWriteBytes; g.spillBytes += c.spillBytes
      }
    }
    g
  }
}

/** The one `StreamingQueryListener`: keeps every progress report, keyed
  * by query run id. */
final class ProgressListener extends StreamingQueryListener {
  private val progress = new java.util.concurrent.ConcurrentHashMap[
    java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.computeIfAbsent(e.progress.runId,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]())
      .add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Every progress report of a finished query, in batch order. Waits
    * (bounded) until the listener has caught up with the query's own
    * count of reports. */
  def of(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    val want = q.recentProgress.length
    val deadline = System.nanoTime() + 3000L * 1000000L
    def got = Option(progress.get(q.runId)).map(_.size).getOrElse(0)
    while (got < want && System.nanoTime() < deadline) Thread.sleep(10)
    Option(progress.get(q.runId)).map(_.asScala.toSeq).getOrElse(q.recentProgress.toSeq)
      .sortBy(_.batchId)
  }
}

object Trace {
  /** Trigger start of a progress report, epoch ms. */
  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def phase(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
}
