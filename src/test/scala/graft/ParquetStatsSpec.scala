package graft

import org.apache.spark.sql.functions._

import graft.operators.ZOrder

/** Row-group stats audit: the same table written arrival-order vs
  * clustered must read back as overlapping vs disjoint stanzas. */
class ParquetStatsSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // uniform keys, small row groups so every file carries several stanzas
  private lazy val fact = spark.range(200000).select(
    pmod(xxhash64(lit("ps"), col("id")), lit(1000000L)).as("key"),
    (col("id") % 97).as("v"))
  private val opts = Map("parquet.block.size" -> (64 * 1024).toString)

  test("rowGroupStats reads per-group min/max; totals match the data") {
    val path = tmp("ps_plain")
    fact.repartition(4).write.mode("overwrite").options(opts).parquet(path)
    val stats = Rigs.rowGroupStats(spark, path, "key")
    assert(stats.count() >= 4, "expected multiple row groups")
    assert(stats.agg(sum("rows")).as[Long].collect()(0) == 200000L)
    // stanzas must bracket the actual data
    val (lo, hi) = fact.agg(min("key"), max("key"))
      .as[(Long, Long)].collect()(0)
    val (slo, shi) = stats.agg(min("min"), max("max"))
      .as[(Long, Long)].collect()(0)
    assert(slo == lo && shi == hi)
  }

  test("overlapFraction separates arrival-order from clustered layouts") {
    val plain = tmp("ps_plain2"); val clus = tmp("ps_clus")
    fact.repartition(4).write.mode("overwrite").options(opts).parquet(plain)
    graft.sinks.Sinks.writeClustered(
      fact.repartitionByRange(4, col("key")), clus, Seq("key"), opts)
    val fPlain = Rigs.overlapFraction(
      Rigs.rowGroupStats(spark, plain, "key"))
    val fClus = Rigs.overlapFraction(
      Rigs.rowGroupStats(spark, clus, "key"))
    // uniform keys in arrival order: every stanza spans the key space
    assert(fPlain > 0.9, s"plain copy should overlap heavily: $fPlain")
    // range-clustered: only file-boundary groups may touch
    assert(fClus < 0.2, s"clustered copy should be near-disjoint: $fClus")
    assert(fClus < fPlain)
  }

  test("z-ordered copies audit as narrow boxes on each curve dimension") {
    val zpath = tmp("ps_z"); val ppath = tmp("ps_z_plain")
    val df2 = spark.range(100000).select(
      pmod(xxhash64(lit("zx"), col("id")), lit(65536L)).as("x"),
      pmod(xxhash64(lit("zy"), col("id")), lit(65536L)).as("y"))
    ZOrder.writeZOrdered(df2, zpath, Seq("x", "y"), numFiles = 4, opts)
    df2.repartition(4).write.mode("overwrite").options(opts).parquet(ppath)
    // overlap is the WRONG lens for z-order (the curve revisits each
    // dimension's ranges by design); what clustering buys is narrow
    // per-group stanzas — mean coverage, the width a range predicate
    // actually decodes against
    val zCov = Rigs.meanStanzaCoverage(
      Rigs.rowGroupStats(spark, zpath, "x"))
    val pCov = Rigs.meanStanzaCoverage(
      Rigs.rowGroupStats(spark, ppath, "x"))
    assert(pCov > 0.9, s"arrival-order stanzas should span the key space: $pCov")
    assert(zCov < 0.8 * pCov,
      s"z-ordered x stanzas should be materially narrower: $zCov vs $pCov")
  }

  test("3-column z-ordered copies audit narrow on EVERY curve dimension") {
    // the k=3 interleave gives each key 10 bits of curve resolution —
    // the audit must see materially narrower stanzas than arrival
    // order on all three columns, or the N-column generalization is
    // ordering by something other than the keys it claims
    val zpath = tmp("ps_z3"); val ppath = tmp("ps_z3_plain")
    val df3 = spark.range(100000).select(
      pmod(xxhash64(lit("z3x"), col("id")), lit(1024L)).as("x"),
      pmod(xxhash64(lit("z3y"), col("id")), lit(1024L)).as("y"),
      pmod(xxhash64(lit("z3w"), col("id")), lit(1024L)).as("w"))
    ZOrder.writeZOrdered(df3, zpath, Seq("x", "y", "w"), numFiles = 4,
      opts)
    df3.repartition(4).write.mode("overwrite").options(opts).parquet(ppath)
    for (c <- Seq("x", "y", "w")) {
      val zCov = Rigs.meanStanzaCoverage(
        Rigs.rowGroupStats(spark, zpath, c))
      val pCov = Rigs.meanStanzaCoverage(
        Rigs.rowGroupStats(spark, ppath, c))
      assert(pCov > 0.9,
        s"arrival-order $c stanzas should span the key space: $pCov")
      assert(zCov < 0.8 * pCov,
        s"z3-ordered $c stanzas should be materially narrower: " +
          s"$zCov vs $pCov")
    }
  }

  test("a column with no integral stanzas counts as fully overlapping") {
    val path = tmp("ps_str")
    spark.range(1000).select(concat(lit("s"), col("id")).as("s"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val stats = Rigs.rowGroupStats(spark, path, "s")
    assert(stats.count() >= 1)
    assert(Rigs.overlapFraction(stats) == 1.0)
    assert(Rigs.meanStanzaCoverage(stats) == 1.0)
    // an empty dir fails loudly at the read, whatever the exception type
    intercept[Exception] {
      Rigs.rowGroupStats(spark, tmp("ps_empty"), "s")
    }
  }
}
