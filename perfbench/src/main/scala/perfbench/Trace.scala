package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed call into one layer. `op` groups the spans of one client
 *  operation; `parent` is the enclosing span's id (0 at the top).
 *  Wall-clock milliseconds attribute Spark jobs (whose events carry
 *  wall-clock times); nanoseconds give the duration.
 */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Long, endMs: Long, durNs: Long) {
  def ms: Double = durNs / 1e6
  def covers(tMs: Long): Boolean = tMs >= startMs && tMs <= endMs
}

/** In-memory span recorder. When off it only times the call, so the
 *  untraced run pays one clock read per boundary.
 */
final class Tracer {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def newOp(): Long = ids.incrementAndGet()

  /** Runs `f`, returning its value and its duration in ms. */
  def span[T](name: String, op: Long)(f: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val parent = current.get
    current.set(id)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val v = f
      val dur = System.nanoTime() - t0
      if (on) done.add(Span(id, parent, op, name, t0Ms, System.currentTimeMillis(), dur))
      (v, dur / 1e6)
    } finally current.set(parent)
  }

  def spans: Seq[Span] = done.asScala.toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    for (s <- spans.sortBy(_.id))
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${s.ms}}""").append('\n')
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Per-job Spark work, summed over the job's tasks. */
final class JobWork(val jobId: Int, val startMs: Long, val tag: Option[String]) {
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
}

/** Records every job with its start time, the submitting thread's
 *  `perfbench.op` tag, and its tasks' counters.
 */
final class JobRecorder extends SparkListener {
  val TagKey = "perfbench.op"
  private val jobs = mutable.LinkedHashMap.empty[Int, JobWork]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
    jobs(e.jobId) = new JobWork(e.jobId, e.time, tag)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def all: Seq[JobWork] = synchronized(jobs.values.toSeq)
}

/** One streaming trigger as `StreamingQueryProgress` reports it, with
 *  the number of input files written by then.
 */
final case class Trigger(atMs: Long, rows: Long, triggerMs: Long, addBatchMs: Long,
    postsWritten: Int)

final class StreamRecorder extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  @volatile var postsWritten: () => Int = () => 0
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0)
      triggers.add(Trigger(System.currentTimeMillis(), p.numInputRows,
        dur("triggerExecution"), dur("addBatch"), postsWritten()))
  }
}
