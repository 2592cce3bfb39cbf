package graftbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import graft.EngineConf
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation of a client. */
final case class Op(kind: String, startNs: Long, endNs: Long, ok: Boolean, inBytes: Long) {
  def s: Double = (endNs - startNs) / 1e9
}

/** Collects ops, named timing samples (ms) and counters of one pass. */
final class Recorder {
  val ops = new ConcurrentLinkedQueue[Op]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  val errors = new ConcurrentLinkedQueue[String]()

  /** Run one op; it fails if it throws or its check returns false. */
  def op(kind: String, inBytes: Long)(body: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val ok = try Trace.op(s"op.$kind")(body) catch {
      case e: Throwable =>
        errors.add(s"$kind: $e"); System.err.println(s"[graftbench] $kind failed: $e")
        e.printStackTrace(); false
    }
    ops.add(Op(kind, t0, System.nanoTime(), ok, inBytes))
    ok
  }

  /** Time a call into a layer: a trace span plus a named ms sample. */
  def call[T](name: String, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = Trace.span(name, layer)(body)
    sample(name, (System.nanoTime() - t0) / 1e6)
    r
  }

  def sample(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)
  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)
  def medianOf(name: String): Double = Stats.median(samplesOf(name))
  def add(name: String, v: Double): Unit = counters.merge(name, v, (a, b) => a + b)
  def counter(name: String): Double = Option(counters.get(name)).map(_.doubleValue).getOrElse(0.0)
  def fail(msg: String): Boolean = { errors.add(msg); System.err.println(s"[graftbench] check: $msg"); false }
  def check(cond: Boolean, msg: => String): Boolean = if (cond) true else fail(msg)

  /** An end-of-run output check: counted as one attempted operation. */
  @volatile var verifyChecks = 0
  @volatile var verifyFails = 0
  def verifyCheck(cond: Boolean, msg: => String): Unit = synchronized {
    verifyChecks += 1
    if (!check(cond, msg)) verifyFails += 1
  }
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, workDir: File, seed: Long, cores: Int)

/** A prepared workload state that a timed pass runs against. */
trait Pass {
  /** Write ops a timed pass makes for a run of `seconds`: a fixed
    * function of `seconds`, so every run (and every commit) measures the
    * same work however fast it goes.
    */
  def writes(seconds: Double): Int
  /** Closed-loop clients until `writes` write ops (and the reads that
    * go with them) were made.
    */
  def run(rec: Recorder, writes: Int): Unit
  /** Output checks that need a look at the finished state (not timed). */
  def verify(rec: Recorder): Unit
  /** Per-layer values only this workload can produce (traced pass). */
  def layerMetrics(rec: Recorder): Map[String, Double]
  /** Input bytes in the generated set (for the storage-memory note). */
  def inputBytes: Long
}

trait Workload {
  def name: String
  def clients: Int
  /** Generate the seeded inputs into `dir` (`warm`: the small warm-up set). */
  def generate(dir: File, seed: Long, warm: Boolean): Map[String, Any]
  /** Warm-up on the small set, then build the state the timed pass needs. */
  def setup(ctx: Ctx, inputs: File, warmInputs: File, dir: File, rec: Recorder): Pass
}

object Main {
  val Workloads: Seq[Workload] = Seq(EtlIngest, IndexMaintain)
  val Cores = 4
  /** Bumped whenever a generator changes, so cached inputs are rebuilt. */
  val InputVersion = 15

  /** The seed of a run's warm-up inputs: a different stream, derived from the run's seed. */
  def warmSeed(seed: Long): Long = seed + 1000003L

  def session(dir: File): SparkSession = {
    val wh = new File(dir, "warehouse"); val local = new File(dir, "local")
    Files.requireEmpty(wh); Files.requireEmpty(local)
    local.mkdirs()
    val s = EngineConf(
      appName = "graft-perfbench",
      master = Some(s"local[$Cores]"),
      shufflePartitions = Some(Cores),
      extraConf = Map(
        "spark.ui.enabled" -> "false",
        "spark.driver.host" -> "localhost",
        "spark.driver.bindAddress" -> "127.0.0.1",
        "spark.sql.warehouse.dir" -> wh.getAbsolutePath,
        "spark.local.dir" -> local.getAbsolutePath)).session()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == a("workload")).getOrElse(
      sys.error(s"unknown workload ${a("workload")}; one of ${Workloads.map(_.name).mkString(", ")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = new File(a("work")).getAbsoluteFile

    // inputs: generated once per (workload, seed) into a cache dir;
    // generation time is kept out of every metric
    val g0 = System.nanoTime()
    val preGenNs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val (inputs, planted) = Files.cached(new File(work, s"inputs/v$InputVersion/${wl.name}-$seed"))(
      d => wl.generate(d, seed, warm = false))
    val warmSeed = Main.warmSeed(seed)
    val (warmInputs, _) = Files.cached(new File(work, s"inputs/v$InputVersion/${wl.name}-warm-$warmSeed"))(
      d => wl.generate(d, warmSeed, warm = true))
    val genS = (System.nanoTime() - g0) / 1e9
    val digest = Files.digest(inputs)

    val runDir = new File(work, s"runs/${wl.name}-$seed-${ProcessHandle.current().pid()}")
    Files.requireEmpty(runDir)
    runDir.mkdirs()
    try {
      // set-up: JVM and session start, warm-up on the small set, base
      // state; timed once (generation excluded)
      val t0 = System.nanoTime()
      val spark = session(runDir)
      val setupRec = new Recorder
      val pass = wl.setup(Ctx(spark, runDir, seed, Cores), inputs, warmInputs, runDir, setupRec)
      val setupS = (System.nanoTime() - t0 + preGenNs) / 1e9
      val ctx = Ctx(spark, runDir, seed, Cores)
      val result =
        if (!trace) untraced(ctx, pass, seconds, setupS, setupRec)
        else traced(wl.name, ctx, pass, seconds, setupRec)
      val info = Map[String, Any](
        "workload" -> wl.name, "seed" -> seed, "clients" -> wl.clients,
        "input_digest" -> digest, "input_bytes" -> pass.inputBytes,
        "storage_memory_mb" -> (spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6),
        "generate_s" -> genS, "setup_s" -> setupS, "planted" -> planted,
        "spark" -> spark.version, "cores" -> Cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6) ++ result.info
      println("graftbench-info " + Json.render(info))
      spark.stop()
      println(Json.render(Map(
        "correct" -> result.correct, "attempted" -> result.attempted,
        "failed" -> result.failed,
        "metrics" -> result.metrics)))
    } finally Files.delete(runDir)
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double)], info: Map[String, Any])

  private def outcome(rec: Recorder): (Boolean, Int, Int) = {
    val ops = rec.ops.asScala.toSeq
    val failed = ops.count(!_.ok) + rec.verifyFails
    (failed == 0, ops.size + rec.verifyChecks, failed)
  }

  private def setupChecked(rec: Recorder, setupRec: Recorder): Unit =
    rec.verifyCheck(setupRec.errors.isEmpty,
      s"set-up checks failed: ${setupRec.errors.asScala.take(3).mkString("; ")}")

  private def untraced(ctx: Ctx, pass: Pass, seconds: Double, setupS: Double,
                       setupRec: Recorder): Result = {
    val rec = new Recorder
    Jvm.resetHeapPeak()
    val cpu0 = Jvm.processCpuNs; val t0 = System.nanoTime()
    pass.run(rec, pass.writes(seconds))
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Jvm.processCpuNs - cpu0) / 1e9
    pass.verify(rec)
    setupChecked(rec, setupRec)
    val ops = rec.ops.asScala.toSeq
    val (correct, attempted, failed) = outcome(rec)
    def lat(kind: String, q: Double) = Stats.quantile(ops.filter(_.kind == kind).map(_.s), q)
    val inMb = ops.map(_.inBytes).sum / 1e6
    val metrics = Seq(
      "setup_s" -> setupS,
      "throughput_mb_s" -> inMb / wallS,
      "write_p50_s" -> lat("write", 0.5),
      "write_p90_s" -> lat("write", 0.9),
      "read_p50_s" -> lat("read", 0.5),
      "read_p90_s" -> lat("read", 0.9),
      "process_cpu_s" -> cpuS,
      "peak_rss_mb" -> Jvm.peakRssMb,
      "ok_share" -> (attempted - failed).toDouble / attempted.max(1))
    Result(correct, attempted, failed, metrics, Map(
      "wall_s" -> wallS, "input_mb" -> inMb,
      "write_samples" -> ops.count(_.kind == "write"),
      "read_samples" -> ops.count(_.kind == "read"),
      "errors" -> rec.errors.asScala.toSeq.take(5)))
  }

  /** Traced run, all on the one state: the run's writes untraced, the
    * same number of writes again with spans, listeners and MXBean
    * snapshots on, then once more untraced. The ops are alike in shape,
    * so the tracing overhead is the traced wall minus the mean of the two
    * untraced walls around it (the bracket cancels a warming JVM's drift
    * and the growth of the state the passes share).
    */
  private def traced(name: String, ctx: Ctx, pass: Pass, seconds: Double,
                     setupRec: Recorder): Result = {
    val bracket = new Recorder
    val writes = pass.writes(seconds)
    def untracedMs(): Double = {
      val r = new Recorder
      val t0 = System.nanoTime()
      pass.run(r, writes)
      val ms = (System.nanoTime() - t0) / 1e6
      r.errors.asScala.foreach(bracket.errors.add)
      ms
    }
    val wallAMs = untracedMs()
    val spark = ctx.spark
    val counters = new SparkCounters(ctx.cores)
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val rec = new Recorder
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs; val gcn0 = Jvm.gcCount; val jit0 = Jvm.jitMs
    Trace.start(spark.sparkContext)
    val t1 = System.nanoTime(); val t1Ms = System.currentTimeMillis()
    Trace.span("pass", "bench") { pass.run(rec, writes) }
    val wallMs = (System.nanoTime() - t1) / 1e6; val t2Ms = System.currentTimeMillis()
    Trace.stop()
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
    val spans = Trace.spans.asScala.toSeq
    val layerStore = pass.layerMetrics(rec)
    val wallBMs = untracedMs()
    val wall0Ms = (wallAMs + wallBMs) / 2
    pass.verify(rec)
    setupChecked(rec, setupRec)
    rec.verifyCheck(bracket.errors.isEmpty,
      s"untraced passes of the traced run failed: ${bracket.errors.asScala.take(3).mkString("; ")}")
    val (correct, attempted, failed) = outcome(rec)

    val c = counters
    val ops = rec.ops.asScala.toSeq
    // client wall: the root spans of each client thread (one per client)
    val clientMs = spans.filter(_.name.startsWith("client.")).map(_.ms).sum
    val opSpanKind = spans.filter(_.name.startsWith("op.")).map(s => s.id -> s.name.stripPrefix("op.")).toMap
    val spanOp = spans.map(s => s.id -> s.op).toMap
    val writeJobs = c.jobSpans.values.count(s => opSpanKind.get(spanOp.getOrElse(s, 0L)).contains("write"))
    val nWrites = ops.count(_.kind == "write").max(1)
    val self = Trace.selfMsByLayer(spans.filter(_.name != "pass"))
    val planMs = c.analysisMs + c.optimizerMs + c.physicalMs
    val mb = 1e6
    val layer = mutable.LinkedHashMap[String, Double](
      "plan.queries" -> c.queries.toDouble,
      "plan.analysis_ms" -> c.analysisMs.toDouble,
      "plan.optimizer_ms" -> c.optimizerMs.toDouble,
      "plan.physical_ms" -> c.physicalMs.toDouble,
      "plan.share" -> planMs / clientMs,
      "driver.jobs" -> c.jobs.toDouble,
      "driver.stages" -> c.stages.toDouble,
      "driver.tasks" -> c.tasks.toDouble,
      "driver.jobs_per_write" -> writeJobs.toDouble / nWrites,
      "driver.idle_ms" -> c.idleMs(t1Ms, t2Ms).toDouble,
      "exec.result_mb" -> c.resultBytes / mb,
      "exec.run_ms" -> c.runMs.toDouble,
      "exec.cpu_ms" -> c.cpuNs / 1e6,
      "exec.gc_ms" -> c.gcMs.toDouble,
      "exec.deser_ms" -> c.deserMs.toDouble,
      "exec.sched_delay_ms" -> c.schedDelayMs.toDouble,
      "exec.slot_util" -> c.slotUtil(wallMs),
      "exec.width_p50" -> Stats.median(c.stageWidths.map(_.toDouble).toSeq),
      "exec.skew_p50" -> c.skewP50,
      "exec.shuffle_write_mb" -> c.shuffleWrite / mb,
      "exec.shuffle_read_mb" -> c.shuffleRead / mb,
      "exec.fetch_wait_ms" -> c.fetchWaitMs.toDouble,
      "exec.spill_mb" -> c.spill / mb,
      "exec.input_mb" -> c.inputBytes / mb,
      "exec.output_mb" -> c.outputBytes / mb,
      "exec.task_failures" -> c.taskFailures.toDouble,
      "jvm.gc_ms" -> (Jvm.gcMs - gc0).toDouble,
      "jvm.gc_count" -> (Jvm.gcCount - gcn0).toDouble,
      "jvm.jit_ms" -> (Jvm.jitMs - jit0).toDouble,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
      "trace.wall_ms" -> wallMs,
      "trace.untraced_wall_ms" -> wall0Ms,
      "trace.overhead_ms" -> (wallMs - wall0Ms),
      "trace.spans" -> spans.size.toDouble,
      "trace.self_accounted_share" -> self.values.sum / clientMs)
    Seq("bench", "sources", "pipeline", "operators").foreach(l => layer(s"self.${l}_ms") = self.getOrElse(l, 0.0))
    layer ++= layerStore
    // spans and the per-layer table, written when the run ends
    val traces = new File(ctx.workDir.getParentFile.getParentFile, "traces")
    val stem = s"$name-${ctx.seed}"
    Files.write(new File(traces, s"$stem.spans.jsonl"), spans.toSeq.sortBy(_.startNs).map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> (s.startNs - t1) / 1e6, "end_ms" -> (s.endNs - t1) / 1e6))
    }.mkString("\n") + "\n")
    Files.write(new File(traces, s"$stem.layers.json"), Json.render(layer.toSeq) + "\n")
    Result(correct, attempted, failed, layer.toSeq, Map(
      "traced_writes" -> nWrites,
      "errors" -> rec.errors.asScala.toSeq.take(5)))
  }
}
