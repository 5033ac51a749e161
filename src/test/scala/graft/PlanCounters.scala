package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

/** Counted metrics for the crossover specs: what an operator's plan
  * moved (shuffle records, decoded scan rows, join output rows) and what
  * a block of eager work launched (jobs, records read, the largest
  * reduce task). These are the numbers a scale claim is about; local
  * wall time hides them (an in-memory shuffle of millions of rows costs
  * ~nothing on one host and is the bottleneck on a cluster). */
object PlanCounters {

  /** Every node of an executed plan, descending through AQE wrappers and
    * materialized query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => Nil
    }
    p +: (nested ++ p.children.flatMap(nodes))
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Runs `df` once and returns its executed plan's nodes. */
  private def executed(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    nodes(df.queryExecution.executedPlan)
  }

  /** Total shuffle records written across every exchange of the plan. */
  def shuffleRecordsOf(df: DataFrame): Long =
    executed(df).collect {
      case e: ShuffleExchangeLike => metric(e, "shuffleRecordsWritten")
    }.sum

  /** Rows the parquet scans produced — rows that survived row-group
    * skipping and were decoded (the post-scan Filter's input). With
    * `under`, only scans of files below that directory count. */
  def scanOutputRowsOf(df: DataFrame, under: String = ""): Long =
    executed(df).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(under)) =>
        metric(f, "numOutputRows")
    }.sum

  /** Output rows of every join node in the plan, largest first. */
  def joinOutputRowsOf(df: DataFrame): Seq[Long] =
    executed(df).collect {
      case j: BaseJoinExec => metric(j, "numOutputRows")
    }.sortBy(-_)

  /** Whether the physical plan evaluates a join pair by pair. */
  def hasNestedLoopJoin(df: DataFrame): Boolean =
    nodes(df.queryExecution.executedPlan).exists {
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
      case _ => false
    }

  /** recall@k of `approx` against `exact` over (query_id, neighbor_id). */
  def annRecall(exact: DataFrame, approx: DataFrame): Double =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1)))
        .as("recall"))
      .head().getDouble(0)

  /** What a block of work launched: Spark jobs, records read from
    * sources and persisted blocks (checkpoints included), shuffle
    * records written, and the most shuffle records any one task read —
    * the largest reduce task. `shuffleWrittenByJob` lists each job's
    * shuffle writes in launch order. */
  final case class Work(jobs: Int, recordsRead: Long, shuffleWritten: Long,
                        maxTaskShuffleRead: Long,
                        shuffleWrittenByJob: Seq[Long])

  /** Runs `body` under a listener and returns its result with the
    * [[Work]] it launched. A marker job after `body` flushes the
    * listener bus: events are FIFO, so once the marker's start lands,
    * every event of `body` has too. The marker is an RDD count tagged by
    * job description — exactly one job, no input, no shuffle (a Dataset
    * action would launch a variable number of jobs under AQE). */
  def measured[A](spark: SparkSession)(body: => A): (A, Work) = {
    val sc = spark.sparkContext
    val marker = "plan-counters-marker"
    val lock = new Object
    var jobs = 0
    var read, written, maxRead = 0L
    val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
    val byJob = scala.collection.mutable.ArrayBuffer.empty[Long]
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        if (desc.contains(marker)) markerSeen = true
        else lock.synchronized {
          js.stageIds.foreach(stageJob(_) = jobs)
          jobs += 1
          byJob += 0L
        }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m => lock.synchronized {
          read += m.inputMetrics.recordsRead
          val w = m.shuffleWriteMetrics.recordsWritten
          written += w
          stageJob.get(te.stageId).foreach(j => byJob(j) += w)
          maxRead = math.max(maxRead, m.shuffleReadMetrics.recordsRead)
        }}
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never observed")
      lock.synchronized {
        (r, Work(jobs, read, written, maxRead, byJob.toVector))
      }
    } finally sc.removeSparkListener(listener)
  }
}

/** Base of the crossover rig specs. Operators cache their fan-out frames
  * for the plan's lifetime and leave the clearing to the caller (the
  * Verify convention); a rig spec is that caller. Left in place, the
  * rigs' cache entries make every later suite's planning slower, since
  * each plan is matched against every cached plan. */
trait RigSpec extends SparkTestBase with BeforeAndAfterEach {
  override def afterEach(): Unit =
    try spark.catalog.clearCache() finally super.afterEach()
}
