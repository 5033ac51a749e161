package graft

import graft.operators.AsOfJoin

class AsOfJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def quotes = Seq(
    (1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0),
    (2L, 15L, 9.0))
    .toDF("k", "ts", "px")

  test("asofBackward attaches latest right row at-or-before each left ts") {
    val trades = Seq((1L, 5L), (1L, 20L), (1L, 25L), (2L, 14L), (3L, 99L))
      .toDF("k", "ts")
    val out = AsOfJoin.asofBackward(trades, quotes, Seq("k"), "ts", Seq("px"))
      .orderBy("k", "ts")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, 5L, None),          // before any quote
      (1L, 20L, Some(2.0)),    // equal ts is inclusive
      (1L, 25L, Some(2.0)),    // latest at-or-before
      (2L, 14L, None),         // per-key isolation: k=1 quotes invisible
      (3L, 99L, None)))        // key absent on right
  }

  test("asofBackward carries several value columns and keeps left columns") {
    val right = Seq((1L, 10L, "a", 7.0)).toDF("k", "ts", "tag", "v")
    val left = Seq((1L, 11L, "keep")).toDF("k", "ts", "note")
    val out = AsOfJoin.asofBackward(left, right, Seq("k"), "ts",
        Seq("tag", "v")).collect()(0)
    assert(out.getAs[String]("note") == "keep")
    assert(out.getAs[String]("asof_tag") == "a")
    assert(out.getAs[Double]("asof_v") == 7.0)
  }

  test("pointInInterval matches inclusive bounds exactly once per pair") {
    val points = Seq((1L, 5L), (2L, 10L), (3L, 17L), (4L, 100L))
      .toDF("pid", "p")
    val intervals = Seq((10L, 0L, 10L), (20L, 10L, 30L))
      .toDF("iid", "lo", "hi")
    val out = graft.operators.RangeJoin.pointInInterval(
        points, intervals, "p", "lo", "hi", bucketWidth = 4)
      .select("pid", "iid").as[(Long, Long)].collect().toSeq.sorted
    // 5 in [0,10]; 10 in BOTH (inclusive ends); 17 in [10,30]; 100 in none
    assert(out == Seq((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L)))
  }

  test("asof forward attaches earliest right row at-or-after each left ts") {
    val trades = Seq((1L, 5L), (1L, 20L), (1L, 31L), (2L, 14L))
      .toDF("k", "ts")
    val out = AsOfJoin.asof(trades, quotes, Seq("k"), "ts", Seq("px"),
        direction = "forward")
      .orderBy("k", "ts")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, 5L, Some(1.0)),   // earliest at-or-after is ts=10
      (1L, 20L, Some(2.0)),  // equal ts inclusive
      (1L, 31L, None),       // after the last quote
      (2L, 14L, Some(9.0))))
  }

  test("asof nearest picks the closer side, ties to backward") {
    val trades = Seq((1L, 14L), (1L, 16L), (1L, 15L), (1L, 29L))
      .toDF("k", "ts")
    val out = AsOfJoin.asof(trades, quotes, Seq("k"), "ts", Seq("px"),
        direction = "nearest")
      .orderBy("k", "ts")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, 14L, Some(1.0)),  // 4 back vs 6 fwd -> backward (ts=10)
      (1L, 15L, Some(1.0)),  // 5 back vs 5 fwd -> tie -> backward
      (1L, 16L, Some(2.0)),  // 6 back vs 4 fwd -> forward (ts=20)
      (1L, 29L, Some(3.0)))) // 9 back vs 1 fwd -> forward (ts=30)
  }

  test("asof tolerance nulls matches farther than the window") {
    val trades = Seq((1L, 12L), (1L, 27L)).toDF("k", "ts")
    val out = AsOfJoin.asof(trades, quotes, Seq("k"), "ts", Seq("px"),
        direction = "backward", tolerance = Some(3L))
      .orderBy("k", "ts")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, 12L, Some(1.0)),  // |12-10| = 2 <= 3
      (1L, 27L, None)))      // |27-20| = 7 > 3 -> dropped
  }

  test("asofBackward with an empty right side keeps all left rows, null-filled") {
    val left = Seq((1L, 10L)).toDF("k", "ts")
    val right = quotes.filter($"k" === 999L)
    val out = AsOfJoin.asofBackward(left, right, Seq("k"), "ts", Seq("px"))
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq((1L, 10L, None)))
  }

  test("pointInInterval handles negative coordinates (floor bucketing)") {
    val points = Seq((1L, -5L), (2L, -1L)).toDF("pid", "p")
    val intervals = Seq((10L, -6L, -2L)).toDF("iid", "lo", "hi")
    val out = graft.operators.RangeJoin.pointInInterval(
        points, intervals, "p", "lo", "hi", bucketWidth = 4)
      .select("pid").as[Long].collect().toSeq
    assert(out == Seq(1L)) // -5 in [-6,-2]; -1 outside
  }

  test("pointInInterval respects key columns") {
    val points = Seq(("a", 5L), ("b", 5L)).toDF("k", "p")
    val intervals = Seq(("a", 0L, 10L)).toDF("k", "lo", "hi")
    val out = graft.operators.RangeJoin.pointInInterval(
        points, intervals, "p", "lo", "hi", 4, keyCols = Seq("k"))
      .select("k").as[String].collect().toSeq
    assert(out == Seq("a"))
  }

  test("syntheticTimeline: deterministic, right side unique per (key, ts)") {
    val (p1, v1) = Rigs.syntheticTimeline(spark, 5, 40, 10)
    // right-side uniqueness is the operator's contract — the rig must
    // honor it by construction
    assert(v1.groupBy("user_id", "ts").count()
      .filter($"count" > 1).count() == 0)
    assert(p1.count() == 50)
    // deterministic: a rebuild is value-identical
    val (p2, v2) = Rigs.syntheticTimeline(spark, 5, 40, 10)
    assert(v1.collect().toSet == v2.collect().toSet)
    assert(p1.collect().toSet == p2.collect().toSet)
  }

  test("union+window and join+argmax compute the same as-of (bench guard logic)") {
    // tiny-scale proof of the equivalence the bench guard certifies at
    // rig scale: the naive expansion is the semantic REFERENCE; the
    // union form must match it exactly, including unmatched rows
    import org.apache.spark.sql.functions.{col, max, struct}
    val (p, v) = Rigs.syntheticTimeline(spark, 4, 30, 15)
    val union = AsOfJoin.asofBackward(p, v, Seq("user_id"), "ts", Seq("v"))
      .select($"purchase_id", $"asof_v")
      .as[(Long, Option[Double])].collect().toMap
    val vv = v.select(col("user_id").as("v_user"),
      col("ts").as("v_ts"), col("v"))
    val argmax = p.join(vv, p("user_id") === vv("v_user") &&
        vv("v_ts") <= p("ts"), "left")
      .groupBy("purchase_id")
      .agg(max(struct(col("v_ts"), col("v"))).as("m"))
      .select($"purchase_id", $"m.v".as("asof_v"))
      .as[(Long, Option[Double])].collect().toMap
    assert(union.size == argmax.size)
    assert(union == argmax)
  }
}
