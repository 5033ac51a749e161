package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run.
  *
  * Every Spark job is attributed to the benchmark span (build, plan,
  * execute or verify) that was open when the job started; its stages and
  * tasks follow the job. Times and counts are per traced steady pass, as
  * the median over those passes; `setup.*` is the median over the run's
  * set-ups, `cold_wall_s` is the wall time of the untraced cold pass,
  * `jvm.jit_s` and `jvm.gc_s` cover the whole run, and `jvm.heap_peak_mb`
  * is the most heap still live after a forced collection at the end of
  * set-up, the cold pass and the warm-up passes.
  */
final case class Layers(spans: Seq[Span], rec: Recorder, passes: Seq[Pass],
                        setups: Seq[(Double, Double)], cores: Int, forcedGcMs: Long,
                        heapPeakMb: Double, shapes: Map[String, Main.PlanShape]) {
  private val jobs = rec.jobs.asScala.toSeq.sortBy(_.start)
  private val stages = rec.stages.asScala.toSeq
  private val tasksByStage = rec.tasks.asScala.toSeq.groupBy(_.stage)
  private val children = spans.groupBy(_.parent)
  private val phaseNames = Set("build", "plan", "execute", "verify")

  private def phases(pass: Span): Seq[Span] =
    children.getOrElse(pass.id, Nil).flatMap(q => children.getOrElse(q.id, Nil))
      .filter(s => phaseNames(s.name)).sortBy(_.start)

  /** The phase whose interval holds `t`; listener times have ms resolution. */
  private def owner(ph: Seq[Span], t: Double): Option[Span] =
    ph.filter(s => s.start - 0.002 <= t && t <= s.end + 0.002).sortBy(-_.start).headOption

  /** Stage id -> the job that ran it (the first job listing it). */
  private val stageJob: Map[Int, JobEv] =
    jobs.reverse.flatMap(j => j.stages.map(_ -> j)).toMap

  private def stagesOf(js: Seq[JobEv]): Seq[StageEv] = {
    val ids = js.map(_.id).toSet
    stages.filter(s => stageJob.get(s.id).exists(j => ids(j.id)))
  }

  private def tasksOf(js: Seq[JobEv]): Seq[TaskEv] =
    stagesOf(js).flatMap(s => tasksByStage.getOrElse(s.id, Nil))

  private val tracedPasses: Seq[Span] = spans.filter(s => s.name.startsWith("pass:") &&
    passes.exists(p => p.traced && s.name == s"pass:${p.index}"))

  /** Job and stage spans, children of the phase that launched them. */
  val jobSpans: Seq[Span] = {
    var next = spans.size
    tracedPasses.flatMap { p =>
      val ph = phases(p)
      jobs.flatMap { j =>
        owner(ph, j.start).toSeq.flatMap { parent =>
          val js = Span(next, parent.id, s"job:${j.id}", j.start, j.end)
          next += 1
          js +: stagesOf(Seq(j)).map { st =>
            val s = Span(next, js.id, s"stage:${st.id}", st.submitted, st.completed,
              Map("tasks" -> st.tasks))
            next += 1
            s
          }
        }
      }
    }
  }

  private def passMetrics(p: Span): Map[String, Double] = {
    val ph = phases(p)
    val byPhase = jobs.groupBy(j => owner(ph, j.start).map(_.name).getOrElse("none"))
    def jobsIn(name: String) = byPhase.getOrElse(name, Nil)
    def dur(name: String) = ph.filter(_.name == name).map(s => s.end - s.start).sum
    val build = dur("build")
    val buildJobS = ph.filter(_.name == "build").map { s =>
      Stats.covered(jobs.filter(j => owner(ph, j.start).contains(s)).map(j => (j.start, j.end)),
        s.start, s.end)
    }.sum
    val execJobs = jobsIn("execute")
    val execStages = stagesOf(execJobs)
    val execTasks = tasksOf(execJobs)
    val execute = dur("execute")
    val cpu = execTasks.map(_.cpuNs).sum / 1e9
    val skew = execStages.map { st =>
      val d = tasksByStage.getOrElse(st.id, Nil).map(t => t.finish - t.launch).sorted
      if (d.size < 2 || Stats.median(d) <= 0) 1.0 else d.last / Stats.median(d)
    }.foldLeft(1.0)(_ max _)
    val submitted = execStages.map(s => s.id -> s.submitted).toMap
    val writers = tasksOf(jobsIn("build") ++ execJobs)
    val wRows = writers.map(_.outRecords).sum.toDouble
    val wBytes = writers.map(_.outBytes).sum.toDouble
    val queries = children.getOrElse(p.id, Nil)
    val timed = queries.flatMap(q => children.getOrElse(q.id, Nil))
      .filter(s => s.name != "verify").map(s => s.end - s.start).sum
    val names = queries.map(_.name.stripPrefix("query:"))
    Map(
      "queries.build_s" -> build,
      "queries.build_jobs" -> jobsIn("build").size.toDouble,
      "queries.build_job_s" -> buildJobS,
      "queries.build_driver_s" -> (build - buildJobS),
      "queries.build_task_cpu_s" -> tasksOf(jobsIn("build")).map(_.cpuNs).sum / 1e9,
      "plans.plan_s" -> dur("plan"),
      "plans.nodes" -> names.flatMap(shapes.get).map(_.nodes).sum.toDouble,
      "plans.joins" -> names.flatMap(shapes.get).map(_.joins).sum.toDouble,
      "plans.exchanges" -> names.flatMap(shapes.get).map(_.exchanges).sum.toDouble,
      "exec.execute_s" -> execute,
      "exec.jobs" -> execJobs.size.toDouble,
      "exec.stages" -> execStages.size.toDouble,
      "exec.tasks" -> execTasks.size.toDouble,
      "exec.task_cpu_s" -> cpu,
      "exec.core_util" -> (if (execute > 0) cpu / (execute * cores) else 0.0),
      "exec.task_wait_s" -> execTasks.map(t => t.launch - submitted.getOrElse(t.stage, t.launch))
        .map(_.max(0.0)).sum,
      "exec.task_skew" -> skew,
      "exec.shuffle_write_mb" -> execTasks.map(_.shuffleBytes).sum / 1048576.0,
      "exec.shuffle_records" -> execTasks.map(_.shuffleRecords).sum.toDouble,
      "exec.spill_mb" -> execTasks.map(_.spillBytes).sum / 1048576.0,
      "exec.gc_s" -> execTasks.map(_.gcMs).sum / 1e3,
      "exec.failed_tasks" -> execTasks.count(!_.ok).toDouble,
      "sources.scan_rows" -> execTasks.map(_.inRecords).sum.toDouble,
      "sources.scan_tasks" -> execTasks.count(t => t.inRecords > 0 || t.inBytes > 0).toDouble,
      "sinks.write_rows" -> wRows,
      "sinks.write_mb" -> wBytes / 1048576.0,
      "sinks.bytes_per_row" -> (if (wRows > 0) wBytes / wRows else 0.0),
      "harness.overhead_s" -> ((p.end - p.start) - timed))
  }

  def metrics: Map[String, Double] = {
    val per = tracedPasses.map(passMetrics)
    val layer = per.headOption.map(_.keys).getOrElse(Nil)
      .map(k => k -> Stats.median(per.map(_(k)))).toMap
    val steady = passes.filter(_.steady)
    val tracedWall = Stats.median(steady.filter(_.traced).map(_.wall))
    val plainWall = Stats.median(steady.filterNot(_.traced).map(_.wall))
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum - forcedGcMs
    layer ++ Map(
      "setup.session_s" -> Stats.median(setups.map(_._1)),
      "setup.tables_s" -> Stats.median(setups.map(_._2)),
      "cold_wall_s" -> passes.head.wall,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "trace.overhead_frac" -> (tracedWall / plainWall - 1))
  }
}
