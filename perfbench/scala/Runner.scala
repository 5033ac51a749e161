package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Wall clock in seconds since the epoch with nanosecond resolution, on the
  * same base as the millisecond times Spark puts on listener events. */
object Clock {
  private val base = System.currentTimeMillis() / 1e3
  private val n0 = System.nanoTime()
  def now: Double = base + (System.nanoTime() - n0) / 1e9
}

/** One traced interval. `parent` is -1 for the root. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty)

final case class JobEv(id: Int, start: Double, end: Double, stages: Seq[Int])
final case class StageEv(id: Int, submitted: Double, completed: Double, tasks: Int)
final case class TaskEv(stage: Int, launch: Double, finish: Double, ok: Boolean,
                        cpuNs: Long, gcMs: Long, inRecords: Long, inBytes: Long,
                        shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long,
                        outRecords: Long, outBytes: Long)

/** Records jobs, stages and tasks; attached only while a traced pass runs. */
final class Recorder extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]
  val jobs = new ConcurrentLinkedQueue[JobEv]
  val stages = new ConcurrentLinkedQueue[StageEv]
  val tasks = new ConcurrentLinkedQueue[TaskEv]
  private val submitted = new java.util.concurrent.ConcurrentHashMap[Int, Double]
  /** Sentinel jobs seen to end; the bus delivers in order, so every event
    * posted before a sentinel has been recorded once it is counted. */
  val sentinels = new java.util.concurrent.atomic.AtomicInteger
  private val sentinelIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties).exists(_.getProperty("spark.job.description") == Recorder.Sentinel))
      sentinelIds.add(e.jobId)
    jobStarts.put(e.jobId, (e.time / 1e3, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStarts.remove(e.jobId)).foreach { case (s, st) =>
      jobs.add(JobEv(e.jobId, s, e.time / 1e3, st)) }
    if (sentinelIds.remove(e.jobId)) sentinels.incrementAndGet()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => submitted.put(e.stageInfo.stageId, t / 1e3))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val sub = Option(submitted.get(i.stageId)).getOrElse(i.submissionTime.getOrElse(0L) / 1e3)
    stages.add(StageEv(i.stageId, sub, i.completionTime.getOrElse(0L) / 1e3, i.numTasks))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ok = e.reason == org.apache.spark.Success
    val ti = e.taskInfo
    if (m == null) tasks.add(TaskEv(e.stageId, ti.launchTime / 1e3, ti.finishTime / 1e3, ok,
      0, 0, 0, 0, 0, 0, 0, 0, 0))
    else tasks.add(TaskEv(e.stageId, ti.launchTime / 1e3, ti.finishTime / 1e3, ok,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten))
  }
}

object Recorder {
  val Sentinel = "graftbench:drain"
}

final case class Timing(name: String, build: Double, plan: Double, execute: Double,
                        verify: Double, ok: Boolean, error: Option[String]) {
  def total: Double = build + plan + execute
}

/** One pass over the workload. `wall` excludes the untimed verification,
  * `jit` is the JIT compiler's busy time during the pass, `liveMb` the heap
  * still in use after the collection that follows it, and `untimed` the
  * time from the end of the pass to the start of the next one. Pass 0 is
  * the cold pass and passes 1 to `WarmPasses` warm up; later ones are the
  * timed steady passes. */
final case class Pass(index: Int, traced: Boolean, wall: Double, jit: Double,
                      queries: Seq[Timing], liveMb: Double, untimed: Double) {
  def steady: Boolean = index > Runner.WarmPasses
}

/** Runs one workload: `Setups` session builds, a cold pass, `WarmPasses`
  * warm-up passes, then timed steady passes until `seconds` have been
  * spent in them. */
final case class Runner(args: Main.Args) {
  import Runner._

  private val cores = args.int("cores")
  private val data = args("data")
  private val names = args.list("queries")
  private val seed = args("seed").toLong
  private val seconds = args("seconds").toDouble
  private val traced = args("trace") == "1"
  private val runDir = args("run-dir")
  // one "name<TAB>rows<TAB>digest<TAB>source" line per query
  private val expected: Map[String, (Long, String)] =
    scala.io.Source.fromFile(args("expected")).getLines().map(_.split("\t"))
      .collect { case Array(q, r, d, _*) => q -> (r.toLong, d) }.toMap

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var spark: SparkSession = _
  private val recorder = new Recorder
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val observed = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private val shapes = mutable.Map.empty[String, Main.PlanShape]
  private var forcedGcMs = 0L
  private var attempted = 0

  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Full collection outside every timed region; returns the heap (MB)
    * still in use after it. Broadcast and shuffle state is released by
    * Spark's ContextCleaner only after a collection finds its driver-side
    * handle unreachable, so a measuring settle collects, waits for the
    * cleaner, and collects again. */
  private def settle(measure: Boolean): Double = {
    val g0 = gcMs
    System.gc()
    if (measure) { Thread.sleep(300); System.gc() }
    forcedGcMs += gcMs - g0
    quiesceJit()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Wait until the JIT compiler has been idle for `JitIdleMs`, at most
    * `JitWaitMs`: graft's passes leave compiler threads busy for up to a
    * second after they end, and that backlog would otherwise run inside the
    * next timed pass, at a pace set by how much CPU the host gives the run. */
  private def quiesceJit(): Unit = {
    val deadline = System.currentTimeMillis() + JitWaitMs
    var last = jitS
    var idle = false
    while (!idle && System.currentTimeMillis() < deadline) {
      Thread.sleep(JitIdleMs)
      val now = jitS
      idle = now == last
      last = now
    }
  }

  /** Time `body`, recording a span under `parent` when `keep` is set. */
  private def timed[T](name: String, parent: Int, keep: Boolean)(body: Int => T): (T, Double, Int) = {
    // the span is added before `body` runs so that it precedes its children
    val id = if (keep) spans.size else -1
    if (keep) spans += Span(id, parent, name, 0, 0)
    val s = Clock.now
    val r = body(id)
    val e = Clock.now
    if (keep) spans(id) = spans(id).copy(start = s, end = e)
    (r, e - s, id)
  }

  /** Build, plan, the timed noop action (`execute`) and, with `verify`,
    * the untimed correctness check. */
  private def runQuery(q: String, passSpan: Int, keep: Boolean, verify: Boolean): Timing = {
    attempted += 1
    var b, p, x, v = 0.0
    val (res, _, _) = timed(s"query:$q", passSpan, keep) { qid =>
      try {
        val (df, tb, _) = timed("build", qid, keep)(_ => SparkEntry.queries(q)(spark, data))
        b = tb
        val (plan, tp, _) = timed("plan", qid, keep)(_ => df.queryExecution.executedPlan)
        p = tp
        x = timed("execute", qid, keep)(_ => Main.noop(df))._2
        if (keep || verify) shapes(q) = Main.planShape(plan)
        if (verify) {
          val (err, tv, _) = timed("verify", qid, keep)(_ => check(q, df, plan))
          v = tv
          err
        } else None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
    }
    res.foreach { err =>
      failures += Map("query" -> q, "error" -> err)
      System.err.println(s"[graftbench] FAILED $q: $err")
    }
    Timing(q, b, p, x, v, res.isEmpty, res)
  }

  /** Untimed correctness check against the stored expectation. */
  private def check(q: String, df: org.apache.spark.sql.DataFrame,
                    plan: org.apache.spark.sql.execution.SparkPlan): Option[String] = {
    // fingerprint first: collecting runs `plan`, and an adaptive plan then
    // prints its final, runtime-dependent shape
    val fp = Main.fingerprint(plan, runDir)
    val (rows, d) = Main.digest(df)
    observed(q) = Map("rows" -> rows, "digest" -> d, "fingerprint" -> fp)
    expected.get(q) match {
      case None => Some("no stored expectation")
      case Some((er, ed)) if er != rows || ed != d =>
        Some(s"output mismatch: $rows rows digest $d, expected $er rows digest $ed")
      case _ => None
    }
  }

  /** Pass 0 is the timed cold pass. The untimed warm-up passes run the
    * noop action again, on the memo-warm code path that the steady passes
    * take. The cold pass and the first warm-up pass verify every output,
    * so both code paths are checked. */
  private def pass(index: Int, root: Int, traceIt: Boolean): Pass = {
    // The cold pass keeps the listed order: its first query pays class
    // loading and JIT warm-up, so a seeded order would make cold_wall_s
    // differ between seeds for that reason alone.
    val order = if (index == 0) names else new scala.util.Random(seed * 1000003L + index).shuffle(names)
    if (traceIt) spark.sparkContext.addSparkListener(recorder)
    val jit0 = jitS
    val s0 = Clock.now
    val name = if (index == 0) "pass:cold" else s"pass:$index"
    val (ts, wall, _) = timed(name, root, traceIt) { pid =>
      order.map(runQuery(_, pid, traceIt, verify = index <= 1))
    }
    if (traceIt) { drain(); spark.sparkContext.removeSparkListener(recorder) }
    val jit1 = jitS
    val live = settle(measure = index <= WarmPasses)
    Pass(index, traceIt, wall - ts.map(_.verify).sum, jit1 - jit0, ts, live,
      Clock.now - s0 - wall)
  }

  /** Wait until the listener has seen every event of the pass: run a
    * one-task sentinel job after it and wait for that job's end. The
    * sentinel starts after the pass span, so no phase claims it. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val seen = recorder.sentinels.get
    sc.setJobDescription(Recorder.Sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 20000
    while (recorder.sentinels.get == seen && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def run(): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val setups = (1 to Setups).map { i =>
      val (s, a, b) = Main.setup(data, cores)
      if (i < Setups) Main.stop(s) else spark = s
      (a, b)
    }
    val firstQueryAt = Clock.now
    val setupLiveMb = settle(measure = true)
    val (passes, _, _) = timed("run", -1, traced) { root =>
      // In a traced run, every second steady pass is traced and the others
      // are not, so the run measures its own tracing overhead.
      val cold = pass(0, root, traceIt = false)
      val warm = (1 to WarmPasses).map(pass(_, root, traceIt = false))
      val t0 = Clock.now
      val steady = mutable.ArrayBuffer.empty[Pass]
      // Keep starting passes while one should end within the budget, and
      // until there are enough for a median that shrugs off a stall.
      def more = {
        val enough = if (traced) steady.count(_.traced) >= 2 else steady.size >= MinPasses
        !enough || Clock.now - t0 + Stats.median(steady.map(_.wall).toSeq) <= seconds
      }
      while (more) {
        steady += pass(steady.size + 1 + WarmPasses, root, traced && steady.size % 2 == 1)
      }
      cold +: (warm ++ steady)
    }
    // Peak live heap over set-up, the cold and the warm-up passes: a
    // fixed amount of work, so it does not depend on how many passes fit.
    val heapPeakMb = (setupLiveMb +: passes.filterNot(_.steady).map(_.liveMb)).max
    val layers = if (traced) Some(Layers(spans.toSeq, recorder, passes, setups, cores,
      forcedGcMs, heapPeakMb, shapes.toMap)) else None
    val res = Map[String, Any](
      "provenance" -> provenance(jvmStart, firstQueryAt),
      "setups" -> setups.map { case (a, b) => Map("session_s" -> a, "tables_s" -> b) },
      "passes" -> passes.map(p => Map("index" -> p.index, "steady" -> p.steady,
        "traced" -> p.traced, "wall_s" -> p.wall, "jit_s" -> p.jit, "live_mb" -> p.liveMb,
        "untimed_s" -> p.untimed, "queries" -> p.queries)),
      "observed" -> observed,
      "shapes" -> shapes.toMap,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "end_to_end" -> endToEnd(setups, passes),
      "per_layer" -> layers.fold(Map.empty[String, Double])(_.metrics),
      "spans" -> layers.fold(Seq.empty[Span])(l => spans.toSeq ++ l.jobSpans))
    Main.stop(spark)
    res
  }

  /** `wall_s` and `query_p50_s` are medians over the untraced steady
    * passes: of the pass walls, and of every query latency in them. */
  private def endToEnd(setups: Seq[(Double, Double)], passes: Seq[Pass]): Map[String, Double] = {
    val steady = passes.filter(_.steady).filterNot(_.traced)
    Map(
      "setup_s" -> Stats.median(setups.map { case (a, b) => a + b }),
      "wall_s" -> Stats.median(steady.map(_.wall)),
      "query_p50_s" -> Stats.median(steady.flatMap(_.queries).filter(_.ok).map(_.total)))
  }

  private def provenance(jvmStart: Double, firstQueryAt: Double): Map[String, Any] = Map(
    "cores" -> cores,
    "available_processors" -> Runtime.getRuntime.availableProcessors(),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "java_version" -> System.getProperty("java.version"),
    "java_vm" -> System.getProperty("java.vm.name"),
    "spark_version" -> spark.version,
    "scala_version" -> scala.util.Properties.versionNumberString,
    "jvm_to_first_query_s" -> (firstQueryAt - jvmStart),
    "seed" -> seed,
    "traced" -> traced)
}

object Runner {
  /** Session builds per run; `setup_s` is their median. */
  val Setups = 3
  /** JIT idle time that ends a wait for it, and the longest wait. */
  val JitIdleMs = 250
  val JitWaitMs = 10000
  /** Untimed passes between the cold pass and the timed ones. */
  val WarmPasses = 4
  /** Timed steady passes per untraced run, even past `seconds`. */
  val MinPasses = 3
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS, curE = Double.NaN
    iv.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = curE.max(e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
