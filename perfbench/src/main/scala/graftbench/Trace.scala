package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One recorded span: a call from the benchmark into a graft layer. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest per thread; the innermost open
  * span's id is also set as a Spark local property, so the listener can
  * attribute each job to the span whose thread submitted it. With
  * recording off a span is a plain call.
  */
object Trace {
  val SpanProp = "graftbench.span"
  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Spark job group -> span that launched it, for jobs graft runs on its
    * own threads (JobRunner), whose inherited local property is stale.
    */
  val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def start(context: SparkContext): Unit = {
    spans.clear(); groupSpan.clear(); sc = context; enabled = true
  }

  def bindGroup(group: String): Unit = if (enabled) { groupSpan.put(group, current); () }
  def stop(): Unit = { enabled = false }

  /** Id of the innermost open span on this thread (0 when none). */
  def current: Long = stack.get().headOption.map(_._1).getOrElse(0L)

  /** Open an op span: spans opened inside it carry its id as `op`. */
  def op[T](name: String)(body: => T): T = span(name, "bench", isOp = true)(body)

  def span[T](name: String, layer: String, isOp: Boolean = false)(body: => T): T = {
    if (!enabled) return body
    val outer = stack.get()
    val id = ids.incrementAndGet()
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    val opId = if (isOp) id else outer.headOption.map(_._2).getOrElse(0L)
    stack.set((id, opId) :: outer)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, opId, name, layer, t0, System.nanoTime()))
      stack.set(outer)
      sc.setLocalProperty(SpanProp, outer.headOption.map(_._1.toString).orNull)
    }
  }

  /** Self time per layer: each span's duration minus the part of it
    * its direct children cover (children of one span run on its thread,
    * so they do not overlap one another).
    */
  def selfMsByLayer(all: Seq[Span]): Map[String, Double] = {
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Spark-side counters of one traced pass: jobs/stages/tasks and task
  * metrics from a SparkListener, planning phases from a
  * QueryExecutionListener.
  */
final class SparkCounters(cores: Int) extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  /** Job id -> (span local property, job group) of the submitting thread. */
  private val jobOrigin = mutable.Map.empty[Int, (Option[Long], Option[String])]
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
  var schedDelayMs = 0L; var resultBytes = 0L; var shuffleWrite = 0L
  var shuffleRead = 0L; var fetchWaitMs = 0L; var spill = 0L
  var inputBytes = 0L; var outputBytes = 0L; var taskWallMs = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val stageWidths = mutable.ArrayBuffer.empty[Int]
  var queries = 0L; var analysisMs = 0L; var optimizerMs = 0L; var physicalMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs += 1
    val p = Option(e.properties)
    jobOrigin(e.jobId) = (p.flatMap(x => Option(x.getProperty(Trace.SpanProp))).map(_.toLong),
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
  }

  /** Job id -> span that launched it; a bound job group wins. */
  def jobSpans: Map[Int, Long] = lock.synchronized {
    jobOrigin.toMap.flatMap { case (j, (span, group)) =>
      group.flatMap(g => Option(Trace.groupSpan.get(g)).map(_.longValue)).orElse(span).map(j -> _)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stages += 1
    stageWidths += e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    val info = e.taskInfo
    if (info.failed || info.killed) taskFailures += 1
    intervals += ((info.launchTime, info.finishTime))
    taskWallMs += info.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime; deserMs += m.executorDeserializeTime
      resultBytes += m.resultSize
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)
  private def plan(qe: QueryExecution): Unit = lock.synchronized {
    queries += 1
    val ph = qe.tracker.phases
    analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizerMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    physicalMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
  }

  /** Wall ms inside [fromMs, toMs] during which no task was running. */
  def idleMs(fromMs: Long, toMs: Long): Long = lock.synchronized {
    val iv = intervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (toMs - fromMs) - covered
  }

  def slotUtil(wallMs: Double): Double = taskWallMs / (wallMs * cores)

  def skewP50: Double = Stats.median(stageTaskMs.values.filter(_.size >= 2).map { ts =>
    val med = Stats.median(ts.map(_.toDouble).toSeq)
    ts.max / math.max(med, 1.0)
  }.toSeq)
}

/** JVM counters from the platform MXBeans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  def gcCount: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionCount.max(0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the R-7 / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val h = (s.size - 1) * q
      val lo = math.floor(h).toInt; val hi = math.ceil(h).toInt
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
}
