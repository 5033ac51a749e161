package graft

import org.apache.spark.sql.functions._

import graft.operators.ScaleJoins

class ScaleJoinsSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedJoin returns identical rows to a plain join under skew") {
    // 10k rows of hot key 1 + a tail; dim side of 3 keys
    val left = spark.range(10000).select(lit(1L).as("k"), col("id").as("v"))
      .union(spark.range(100).select((col("id") % 3).as("k"), col("id").as("v")))
    val right = Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
      .orderBy("k").collect().toSeq
    val salted = ScaleJoins.saltedJoin(left, right, "k", saltFactor = 8)
      .groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
      .orderBy("k").collect().toSeq
    assert(salted == plain)
  }

  test("adaptiveSaltFactor sizes from measured skew, 1 when uniform") {
    // ~91% of rows on key 1 -> factor ~ 0.91 x shuffle partitions
    val skewed = spark.range(10000).select(lit(1L).as("k"))
      .union(spark.range(1000).select((col("id") % 100 + 10).as("k")))
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val f = ScaleJoins.adaptiveSaltFactor(skewed, "k", sampleFraction = 0.5)
    assert(f > 1, s"skewed key must salt (got $f)")
    assert(f <= p, s"factor $f cannot exceed parallelism $p")
    // uniform keys: hottest share ~ 1/1000 -> ceil(share x P) = 1
    val uniform = spark.range(10000).select((col("id") % 1000).as("k"))
    assert(ScaleJoins.adaptiveSaltFactor(uniform, "k",
      sampleFraction = 0.5) == 1)
  }

  test("adaptive salting splits the hot key across reducers, same result") {
    val left = spark.range(10000).select(lit(1L).as("k"), col("id").as("v"))
      .union(spark.range(90).select((col("id") % 3).as("k"), col("id").as("v")))
    val right = Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("k", "name")
    val f = ScaleJoins.adaptiveSaltFactor(left, "k", sampleFraction = 0.5)
    assert(f > 1)
    // the hot key's rows must actually split: distinct salts assigned to
    // key 1 (the (k, salt) composite is the exchange key), and with an
    // explicit partition count (exempt from AQE coalescing) the rows land
    // on several reducers
    val salted = left.withColumn("__salt", ScaleJoins.salt(left, f))
    val hotSalts = salted.filter(col("k") === 1L)
      .select("__salt").distinct().count()
    assert(hotSalts > 1, s"hot key got $hotSalts salt value(s)")
    val hotParts = salted.repartition(32, col("k"), col("__salt"))
      .filter(col("k") === 1L)
      .select(spark_partition_id().as("pid")).distinct().count()
    assert(hotParts > 1, s"hot key stayed on $hotParts partition(s)")
    // and the adaptive join's values match the plain join
    val plain = left.join(right, Seq("k")).groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
      .orderBy("k").collect().toSeq
    val adaptive = ScaleJoins.adaptiveSaltedJoin(left, right, "k",
        sampleFraction = 0.5)
      .groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
      .orderBy("k").collect().toSeq
    assert(adaptive == plain)
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = spark.range(1000).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      val dims = spark.range(100).select(col("id").as("k"),
        concat(lit("n"), col("id")).as("name"))
      ScaleJoins.writeBucketed(facts, "graft_facts", "k", buckets = 4)
      ScaleJoins.writeBucketed(dims, "graft_dims", "k", buckets = 4)
      val joined = spark.table("graft_facts")
        .join(spark.table("graft_dims"), Seq("k"))
      assert(!Rigs.hasShuffleExchange(joined),
        "bucketed join must not shuffle:\n" +
          joined.queryExecution.executedPlan.toString)
      assert(joined.count() == 100)
      // contrast: the same join from plain (unbucketed) frames shuffles
      val plain = facts.join(dims, Seq("k"))
      assert(Rigs.hasShuffleExchange(plain))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_facts")
      spark.sql("DROP TABLE IF EXISTS graft_dims")
    }
  }
}
