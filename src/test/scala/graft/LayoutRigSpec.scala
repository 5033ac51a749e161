package graft

import org.apache.spark.sql.functions._

import graft.PlanCounters._
import graft.operators.ZOrder

/** The data-layout levers at test scale: the same fact written in two
  * or three orders, the same selective scan over each copy, and the
  * parquet rows decoded (rows surviving row-group min/max skipping) as
  * the counted metric. Small row groups give the files the stanza
  * granularity a large table has for free. Each check also pins equal
  * answers and that the predicates reach the scan. */
class LayoutRigSpec extends RigSpec {

  private val Rows = 200000L
  private val Files = 4
  private def opts(blockBytes: Long) =
    Map("parquet.block.size" -> blockBytes.toString)
  private lazy val base =
    java.nio.file.Files.createTempDirectory("graft_layout_rig").toString

  private def payload = md5(col("id").cast("string"))

  /** Scan `path` under `pred`, aggregating every column so none is
    * pruned from the surviving row groups. */
  private def scan(path: String, pred: org.apache.spark.sql.Column) = {
    val df = spark.read.parquet(path).filter(pred)
    df.agg(count(lit(1)),
      sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000003L))))
  }

  /** Equal answers on every copy, pushed filters on each, and the rows
    * each copy's scan decodes. */
  private def decoded(paths: Seq[String],
                      pred: org.apache.spark.sql.Column): Seq[Long] = {
    val answers = paths.map(p => scan(p, pred).head())
    assert(answers.distinct.size == 1, s"layouts disagree: $answers")
    assert(answers.head.getLong(0) > 0, "the box selects no rows")
    for (p <- paths) {
      val plan = scan(p, pred).queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [") &&
        !plan.contains("PushedFilters: []"), s"no pushed filters:\n$plan")
    }
    paths.map(p => scanOutputRowsOf(scan(p, pred)))
  }

  test("range clustering decodes <= 10% of the rows arrival order does " +
      "under a 1%-selective range scan") {
    val keySpace = 1000000000L
    val fact = spark.range(Rows).select(
      pmod(xxhash64(lit("lay"), col("id")), lit(keySpace)).as("key"),
      (col("id") % 1000).as("v"), payload.as("s"))
    val (plain, clustered) = (s"$base/plain", s"$base/clustered")
    fact.repartition(Files).write.options(opts(64 << 10)).parquet(plain)
    graft.sinks.Sinks.writeClustered(
      fact.repartitionByRange(Files, col("key")), clustered, Seq("key"),
      opts(64 << 10))
    val lo = 123450000L
    val Seq(p, c) = decoded(Seq(plain, clustered),
      col("key") >= lo && col("key") < lo + keySpace / 100)
    info(s"rows decoded: plain=$p clustered=$c")
    assert(c * 10 < p)
  }

  test("2-D box: x-clustering decodes >= 3x fewer rows than arrival " +
      "order, z-order >= 3x fewer again") {
    val side = 65536L
    val fact = spark.range(Rows).select(
      pmod(xxhash64(lit("l2x"), col("id")), lit(side)).as("x"),
      pmod(xxhash64(lit("l2y"), col("id")), lit(side)).as("y"),
      (col("id") % 1000).as("v"), payload.as("s"))
    val Seq(plain, xclust, zord) =
      Seq("plain2", "xclust2", "zorder2").map(d => s"$base/$d")
    fact.repartition(Files).write.options(opts(16 << 10)).parquet(plain)
    graft.sinks.Sinks.writeClustered(
      fact.repartitionByRange(Files, col("x")), xclust, Seq("x"),
      opts(16 << 10))
    ZOrder.writeZOrdered(fact, zord, Seq("x", "y"), Files, opts(16 << 10))
    // 12.5% per dimension, aligned to the box width: one z range
    val w = 8192L
    val Seq(p, x, z) = decoded(Seq(plain, xclust, zord),
      col("x") >= 16384L && col("x") < 16384L + w &&
        col("y") >= 32768L && col("y") < 32768L + w)
    info(s"rows decoded: plain=$p xclust=$x zorder=$z")
    assert(x * 3 < p)
    assert(z * 3 < x)
  }

  test("3-D box: a 3-column z-order decodes >= 3x fewer rows than the " +
      "2-column curve, blind in z") {
    val side = 1024L
    val fact = spark.range(Rows).select(
      pmod(xxhash64(lit("l3x"), col("id")), lit(side)).as("x"),
      pmod(xxhash64(lit("l3y"), col("id")), lit(side)).as("y"),
      pmod(xxhash64(lit("l3z"), col("id")), lit(side)).as("z"),
      (col("id") % 1000).as("v"))
    val (z2, z3) = (s"$base/z2", s"$base/z3")
    ZOrder.writeZOrdered(fact, z2, Seq("x", "y"), Files, opts(8 << 10))
    ZOrder.writeZOrdered(fact, z3, Seq("x", "y", "z"), Files, opts(8 << 10))
    // wide in x/y (50%), narrow in z (6.25%): the z predicate is the one
    // the 2-column curve cannot see
    val Seq(r2, r3) = decoded(Seq(z2, z3),
      col("x") >= 256L && col("x") < 768L && col("y") >= 256L &&
        col("y") < 768L && col("z") >= 128L && col("z") < 192L)
    info(s"rows decoded: z2=$r2 z3=$r3")
    assert(r3 * 3 < r2)
  }

  test("skewed 2-D box: rank bucketing decodes >= 3x fewer rows than " +
      "proportional scaling") {
    // 90% of rows on a 20k-wide hot slice of a 10^9 key space
    val fact = spark.range(Rows).select(
      when(col("id") % 10 < 9,
        pmod(xxhash64(lit("lsh"), col("id")), lit(20000L)))
        .otherwise(pmod(xxhash64(lit("lsu"), col("id")),
          lit(1000000000L))).as("x"),
      pmod(xxhash64(lit("lsy"), col("id")), lit(65536L)).as("y"),
      (col("id") % 1000).as("v"), payload.as("s"))
    val (scaled, ranked) = (s"$base/scaled", s"$base/ranked")
    ZOrder.writeZOrderedScaled(fact, scaled, Seq("x", "y"), Files,
      opts(16 << 10))
    ZOrder.writeZOrderedRanked(fact, ranked, Seq("x", "y"), Files,
      buckets = 1024, opts(16 << 10))
    val Seq(s, r) = decoded(Seq(scaled, ranked),
      col("x") >= 5000L && col("x") < 5500L &&
        col("y") >= 16384L && col("y") < 16384L + 8192L)
    info(s"rows decoded: scaled=$s ranked=$r")
    assert(r * 3 < s)
  }
}
