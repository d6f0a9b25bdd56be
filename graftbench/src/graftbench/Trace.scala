package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Spans of one op share the op's root span id;
  * Spark jobs become child spans of the span that was open on the
  * driver thread when the job was submitted. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, String] = Map.empty)

/** In-memory span recorder. Disabled (the end-to-end run) it records
  * nothing and attaches no listener; enabled (the traced run) it keeps
  * spans in memory until [[Tracer.write]]. */
final class Tracer(val enabled: Boolean, sc: org.apache.spark.SparkContext) {
  val SpanProp = "graftbench.span"
  // spans open and close on the driver thread only
  private var ids = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = 0L

  def span[A](name: String, attrs: Map[String, String] = Map.empty)(body: => A): A =
    if (!enabled) body
    else {
      ids += 1
      val id = ids
      val parent = open
      open = id
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime(), attrs)
        open = parent
        sc.setLocalProperty(SpanProp, if (parent == 0) null else parent.toString)
      }
    }

  /** Largest cached and checkpointed volume seen right after a build
    * (eager lineage cuts run while the DataFrame is built). */
  @volatile var cachedMbMax = 0.0
  @volatile var checkpointMbMax = 0.0
  def onBuilt(): Unit = if (enabled) {
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val ckpt = sc.getCheckpointDir.map(d => Tracer.dirBytes(new java.io.File(new java.net.URI(d).getPath)))
      .getOrElse(0L) / 1048576.0
    cachedMbMax = math.max(cachedMbMax, cached)
    checkpointMbMax = math.max(checkpointMbMax, ckpt)
  }

  def recorded: Seq[Span] = spans.toList

  /** Adds the listener's jobs as child spans and writes every span as
    * JSON lines. */
  def write(path: java.io.File, exec: ExecListener): Unit = {
    val jobSpans = exec.jobSpans.map { case (jobId, parent, start, end) =>
      ids += 1
      Span(ids, parent, s"job $jobId", start, end) }
    val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val lines = (recorded.map(s => s.copy(startNs = s.startNs + nanoOffset, endNs = s.endNs + nanoOffset)) ++
      jobSpans).sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.attrs.toSeq)
    }
    path.getParentFile.mkdirs()
    java.nio.file.Files.writeString(path.toPath, lines.mkString("\n") + "\n")
  }
}

object Tracer {
  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}

/** Spark listener totals for the traced region. Task metrics are summed;
  * jobs remember the span that submitted them. */
final class ExecListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val maxTaskMs = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong
  val jobsEnded = new AtomicLong
  private val events = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]
  private val jobEnd = new ConcurrentHashMap[Int, Long]
  /** jobs per submitting span */
  val jobsBySpan = new ConcurrentHashMap[Long, AtomicLong]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobs.incrementAndGet()
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("graftbench.span")))
      .map(_.toLong).getOrElse(0L)
    jobStart.put(e.jobId, (span, e.time * 1000000L))
    jobsBySpan.computeIfAbsent(span, _ => new AtomicLong).incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    jobEnd.put(e.jobId, e.time * 1000000L)
    jobsEnded.incrementAndGet()
  }

  /** Listener events arrive asynchronously: waits (at most 10 s) until
    * every started job has ended and no event has come for 300 ms. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var seen = -1L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val n = events.get()
      if (n != seen || jobsEnded.get() < jobs.get()) { seen = n; quietSince = System.nanoTime() }
      else if (System.nanoTime() - quietSince > 300000000L) return
      Thread.sleep(20)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    stages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
    if (e.taskInfo != null) maxTaskMs.accumulateAndGet(e.taskInfo.duration, math.max)
  }

  def jobSpans: Seq[(Int, Long, Long, Long)] =
    jobStart.asScala.toSeq.sortBy(_._1).map { case (id, (span, start)) =>
      (id, span, start, jobEnd.getOrDefault(id, start)) }
}

/** Catalyst phase times (analysis, optimization, planning) of every
  * action the traced region runs. */
final class PlanListener extends QueryExecutionListener {
  val planMs = new AtomicLong
  val queries = new AtomicLong
  private def add(qe: QueryExecution): Unit = {
    queries.incrementAndGet()
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** JVM-wide counters read before and after a region. */
object Jvm {
  final case class Snap(gcMs: Long, jitMs: Long, classes: Long)
  def snap(): Snap = Snap(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L),
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Resets VmHWM to the current RSS (Linux `clear_refs` 5), so a later
    * [[peakRssMb]] reads the peak since this call. */
  def resetPeakRss(): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: java.io.IOException => }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def loadAvg1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

/** Minimal JSON rendering for the harness's output lines. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
