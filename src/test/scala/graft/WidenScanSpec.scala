package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Pins [[Similarity.widenScan]]'s laziness contract (r19, r18 verdict
  * #5 + advice): the width probe must never launch work at
  * plan-construction time. The r18 first cut probed via `Dataset.rdd`,
  * which on an AQE plan EAGERLY materializes every intermediate query
  * stage — the recall sweeps re-executed their encode subtrees once per
  * nProbe variant (sim_recall_sweep_ivfpq 1.5 -> 2.9 s) with the oracle
  * still green, so only a spec catches a regression. */
class WidenScanSpec extends SparkTestBase {

  /** Runs `body`, returns (result, jobs started by body). */
  private def countingJobs[A](body: => A): (A, Int) = {
    val (r, work) = PlanCounters.measured(spark)(body)
    (r, work.jobs)
  }

  private def narrowScanFrame(): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("widen_scan").toString
    spark.range(100).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("an AQE (exchange-bearing) frame is returned untouched — same " +
       "object, no jobs, no stage materialization") {
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(3, col("k"))
      .groupBy("k").agg(sum("id").as("s"))
    assert(df.queryExecution.executedPlan.toString
      .contains("AdaptiveSparkPlan"))
    val (out, jobs) = countingJobs(Similarity.widenScan(df))
    assert(out eq df, "adaptive frame must pass through unwrapped")
    assert(jobs == 0, s"widenScan launched $jobs job(s) on an AQE frame")
    // the eager-materialization regression flips this to true
    assert(df.queryExecution.executedPlan.toString
      .contains("isFinalPlan=false"),
      "widenScan materialized the adaptive frame's query stages")
  }

  test("a narrow exchange-free parquet scan is widened to session " +
       "parallelism, with zero jobs at construction") {
    val df = narrowScanFrame()
    val want = spark.sparkContext.defaultParallelism
    assume(want > 1)
    val (out, jobs) = countingJobs(Similarity.widenScan(df))
    assert(jobs == 0, s"widenScan launched $jobs job(s) while probing " +
      "a scan-rooted frame")
    assert(!(out eq df), "1-split scan should have been repartitioned")
    assert(out.rdd.getNumPartitions == want)
    // same rows either way
    assert(out.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("with AQE off, an exchange-bearing frame is NOT probed (r18 " +
       "advice: execute() on such a tree eagerly launches its " +
       "broadcast/subquery jobs)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val big = s2.range(100).select(col("id"), (col("id") % 5).as("k"))
    val dim = s2.range(5).select(col("id").as("k"), lit("x").as("name"))
    val joined = big.join(broadcast(dim), "k")
    val plan = joined.queryExecution.executedPlan
    assert(!plan.toString.contains("AdaptiveSparkPlan"))
    assert(plan.toString.contains("BroadcastExchange"))
    val (out, jobs) = countingJobs(Similarity.widenScan(joined))
    assert(out eq joined,
      "exchange-bearing non-adaptive frame must pass through untouched")
    assert(jobs == 0,
      s"widenScan launched $jobs job(s) probing a broadcast-bearing tree")
  }
}
