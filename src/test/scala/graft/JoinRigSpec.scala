package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.PlanCounters._
import graft.operators.{AsOfJoin, RangeJoin, ScaleJoins, TextAnalysis}

/** The join-shape and shuffle-volume levers at test scale, each against
  * the naive contender it exists to avoid, asserted on what the plan
  * moves: shuffle records, rows entering an aggregation, pairs
  * evaluated, the largest reduce task. Answer equality for the as-of,
  * range and salted joins is pinned in AsOfJoinSpec and ScaleJoinsSpec. */
class JoinRigSpec extends RigSpec {

  test("heavy hitters: sample-and-verify returns the exact top-k with " +
      ">= 3x fewer shuffle records than the full-vocabulary count") {
    // 20 draws per doc from an exponential 17-token head (bucket b holds
    // ~2^b/65536 of the mass, so the top-10 cut is unambiguous) plus a
    // doc-unique tail: the long-tail shape that makes groupBy(token) a
    // full-vocabulary shuffle
    val head = transform(sequence(lit(0), lit(19)), j =>
      concat(lit("h"), lpad(floor(log(2.0,
          pmod(xxhash64(lit("hh"), col("id"), j), lit(65536L)) + 1))
        .cast("int").cast("string"), 2, "0")))
    val tail = transform(sequence(lit(0), lit(59)), j =>
      concat(lit("t"), col("id").cast("string"), lit("_"), j.cast("string")))
    val docs = spark.range(4000).select(col("id").as("doc_id"),
      array_join(concat(head, tail), " ").as("text")).localCheckpoint()
    val k = 10
    val fullRig = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(k)
    val sampledRig = TextAnalysis.heavyHitters(docs, "doc_id", "text",
      k = k, candidates = 150, samplePct = 10)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows(sampledRig) == rows(fullRig))
    val (f, s) = (shuffleRecordsOf(fullRig), shuffleRecordsOf(sampledRig))
    info(s"shuffle records: full=$f sampled=$s")
    assert(s * 3 < f)
  }

  test("as-of: the union+window form feeds its window each row once; " +
      "join+argmax feeds its aggregate every earlier-view pair") {
    val (p0, v0) = AsOfJoin.syntheticTimeline(spark, 20, 1000, 100)
    val (p, v) = (p0.localCheckpoint(), v0.localCheckpoint())
    val union = AsOfJoin.asofBackward(p, v, Seq("user_id"), "ts", Seq("v"))
    val vv = v.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
      col("v"))
    val argmax = p.join(vv, p("user_id") === vv("v_user") &&
        vv("v_ts") <= p("ts"), "left")
      .groupBy("purchase_id", "user_id", "ts")
      .agg(max(struct(col("v_ts"), col("v"))).as("m"))
      .select(col("purchase_id"), col("m").getField("v").as("asof_v"))
    assert(joinOutputRowsOf(union).isEmpty)
    // rows into the window = the one exchange that partitions by key
    val (u, a) = (shuffleRecordsOf(union), joinOutputRowsOf(argmax).head)
    info(s"rows entering the as-of aggregation: union=$u argmax=$a")
    // measured 47x fewer; the bound carries a 1.3x margin
    assert(u * 36 < a)
  }

  test("range join: the bucketed equi-join evaluates a fraction of the " +
      "pairs and plans no nested-loop join; the theta join evaluates all") {
    val horizon = 1000000L
    val width = 2000L
    val points = spark.range(20000).select(col("id").as("pt_id"),
      pmod(xxhash64(lit("pt"), col("id")), lit(horizon)).as("pt"))
      .localCheckpoint()
    val intervals = spark.range(500).select(col("id").as("iv_id"),
        pmod(xxhash64(lit("iv"), col("id")), lit(horizon)).as("lo"))
      .withColumn("hi", col("lo") + 500L +
        pmod(xxhash64(lit("w"), col("iv_id")), lit(3000L)))
      .localCheckpoint()
    val bucketed = RangeJoin.pointInInterval(points, intervals, "pt", "lo",
      "hi", bucketWidth = width)
    val theta = points.join(intervals,
      col("pt") >= col("lo") && col("pt") <= col("hi"))
    assert(!hasNestedLoopJoin(bucketed) && hasNestedLoopJoin(theta))
    // the equi-join evaluates exactly the pairs that share a bucket key;
    // the nested loop evaluates every (point, interval) pair
    val perBucket = (df: DataFrame) => df.groupBy("b").count()
    val candidates = perBucket(points.select(
        floor(col("pt") / width).as("b")))
      .join(perBucket(intervals.select(explode(sequence(
        floor(col("lo") / width), floor(col("hi") / width))).as("b")))
        .withColumnRenamed("count", "ni"), "b")
      .agg(sum(col("count") * col("ni"))).head().getLong(0)
    val all = points.count() * intervals.count()
    info(s"pairs evaluated: bucketed=$candidates theta=$all")
    // measured 248x fewer; the bound carries a 1.3x margin
    assert(candidates * 190 < all)
  }

  test("salted join, AQE off: the largest reduce task reads far fewer " +
      "records than the plain join's hot-key reducer") {
    // the regime saltedJoin exists for: no AQE skew split, no broadcast
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "16")
    val dimKeys = 10001L
    val fact = s.range(200000).select(
      when(col("id") % 10 < 9, 0L)
        .otherwise(pmod(xxhash64(lit("k"), col("id")), lit(dimKeys - 1)) +
          1L).as("key"),
      (col("id") % 1000).as("v")).localCheckpoint()
    val dim = s.range(dimKeys).select(col("id").as("key"),
      (col("id") % 97).as("w")).localCheckpoint()
    def largestTask(df: DataFrame) =
      measured(s)(df.agg(sum(col("v") * col("w"))).collect())._2
        .maxTaskShuffleRead
    val (plain, salted) = (largestTask(fact.join(dim, "key")),
      largestTask(ScaleJoins.saltedJoin(fact, dim, "key", 16)))
    info(s"largest reduce task records: plain=$plain salted=$salted")
    // measured 4.1x fewer; the bound carries a 1.3x margin
    assert(salted * 3.1 < plain)
  }
}
