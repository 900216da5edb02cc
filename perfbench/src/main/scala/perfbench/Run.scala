package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.store.{ManifestStore, Tables}

/** One measured client operation. `traced` says which half of a traced
 *  run it fell in (untraced runs have only `false`).
 */
final case class Sample(verb: String, ms: Double, traced: Boolean)

/** State shared by a run's workload code: session, scratch dir, tracer,
 *  recorders, and what the run measured so far.
 */
final class Run(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val traceRun: Boolean, val setupReps: Int = 3) {
  val tracer = new Tracer
  val jobs = new JobRecorder
  val stream = new StreamRecorder
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Failed or wrong operations and checks, with what went wrong. */
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** Per-verb metrics by name, printed beside the result (not gated). */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics this workload cannot measure, with the reason. */
  val absent = mutable.LinkedHashMap.empty[String, String]
  var tracedFromMs: Long = Long.MaxValue
  var timedEndMs: Long = 0L
  private var timedStartGcMs = 0L

  /** Start of the timed phase. In a traced run the first third of it is
   *  measured untraced (the reference for `trace.overhead`);
   *  `startTracing` turns the listeners and spans on for the rest.
   */
  def timedPhaseStart(): Unit = {
    timedStartGcMs = Jvm.gcMs
    Jvm.resetHeapPeak()
  }

  def startTracing(): Unit = if (traceRun && !tracer.on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(stream)
    tracedFromMs = System.currentTimeMillis()
    tracer.on = true
  }

  def timedPhaseEnd(): Unit = {
    timedEndMs = System.currentTimeMillis()
    if (traceRun) {
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext, 30000L)
      layer("jvm.gc_ms", (Jvm.gcMs - timedStartGcMs).toDouble, "ms")
      layer("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
    }
  }

  /** Runs `f` as one client operation: counts it, times it (as a span
   *  when tracing), and records a thrown error as a failed operation.
   */
  def op[T](verb: String, opId: Long = tracer.newOp())(f: => T): Option[T] = {
    attempted += 1
    try {
      val (v, ms) = tracer.span(verb, opId)(f)
      samples += Sample(verb, ms, tracer.on)
      Some(v)
    } catch {
      case e: Exception =>
        failures += s"$verb threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** [[op]] with the calling thread's Spark jobs tagged by the op id, so
   *  they can be told apart from jobs other threads start meanwhile.
   */
  def taggedOp[T](verb: String, opId: Long = tracer.newOp())(f: => T): Option[T] = {
    spark.sparkContext.setLocalProperty(jobs.TagKey, opId.toString)
    try op(verb, opId)(f) finally spark.sparkContext.setLocalProperty(jobs.TagKey, null)
  }

  /** A correctness check counted like an operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Exception => failures += s"$what threw ${e.getMessage}"; return
    }
    if (!passed) failures += what
  }

  def ms(verb: String, traced: Boolean): Seq[Double] =
    samples.filter(s => s.verb == verb && s.traced == traced).map(_.ms).toSeq

  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)

  def toDF(b: Batch): DataFrame = {
    val rows = new java.util.ArrayList[Row](b.size)
    for (i <- 0 until b.size) rows.add(Row(b.ids(i), b.ts(i), b.vals(i)))
    spark.createDataFrame(rows, Tables.rawSchema)
  }

  def deadlineNs(fromNs: Long): Long = fromNs + seconds * 1000000000L

  // ---- store state, read from outside through public calls ------------

  def liveCommits(root: String): Int =
    ManifestStore.latest(spark, root)._2.count(e => !e.startsWith("#"))

  def manifestVersion(root: String): Long = ManifestStore.latest(spark, root)._1

  def dirBytesAndFiles(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
