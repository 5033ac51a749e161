package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Prep, Similarity}

/** The distributed-correctness property the whole 100 TB design rests
  * on: results must not depend on HOW the data happens to be laid out —
  * not on the input's partition count, not on
  * `spark.sql.shuffle.partitions`. On a 1000-executor cluster both vary
  * run to run (AQE coalescing, dynamic allocation, upstream file
  * splits); an operator whose output shifts with them is only
  * accidentally correct on local[4]. Every md5-deterministic operator
  * advertises layout-independence in its scaladoc — this spec is that
  * claim, executed.
  *
  * Ids are PERMUTED, never 0..n in storage order (the CC round-5
  * lesson: monotone-id inputs hide order-dependence bugs the same way
  * they hid O(diameter) propagation).
  */
class PartitionInvarianceSpec extends SparkTestBase {
  import spark.implicits._

  /** (input-layout, shuffle-partition-count) grid: single partition,
    * the default, round-robin across a prime count, and hash-partitioned
    * by a non-id column — with shuffle.partitions swept 1/4/13. */
  private val layouts: Seq[(String, DataFrame => DataFrame, Int)] = Seq(
    ("coalesced-1/sp1", df => df.repartition(1), 1),
    ("default/sp4", identity[DataFrame] _, 4),
    ("roundrobin-7/sp13", df => df.repartition(7), 13),
    ("bygroup-3/sp13", df => df.repartition(3, col("grp")), 13))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run `op` under every layout and assert the canonical result set is
    * identical everywhere. */
  private def assertInvariant(input: DataFrame, tag: String)(
      op: DataFrame => DataFrame): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val results =
      try layouts.map { case (name, relayout, sp) =>
        spark.conf.set("spark.sql.shuffle.partitions", sp.toString)
        name -> canon(op(relayout(input)))
      }
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val (refName, ref) = results.head
    for ((name, got) <- results.tail)
      assert(got == ref,
        s"$tag: result under layout '$name' differs from '$refName'")
    assert(ref.nonEmpty, s"$tag: vacuous — operator returned no rows")
  }

  // 120 docs in 30 near-dup families of 4, permuted ids, 3 groups.
  // Family members share a family-distinct base (words drawn mod a
  // prime, so families don't alias into rotations of one sequence) plus
  // one trailing mutation token; every doc also carries a shared
  // boilerplate prefix so the ubiquitous-shingle prune path has real
  // stop shingles to remove without erasing the family signal.
  private lazy val docs: DataFrame = {
    val boiler = (0 until 10).map(j => s"b$j").mkString(" ")
    (0 until 120).map { i =>
      val id = (i * 77L + 13L) % 997L  // permutation: gcd(77, 997) = 1
      val fam = i / 4
      val base = (0 until 24)
        .map(j => "w" + ((fam * 29 + j * 7) % 211)).mkString(" ")
      (id, s"g${i % 3}", s"$boiler $base tail${i % 4}", 10L + i % 23)
    }.toDF("id", "grp", "text", "toks")
  }

  test("hashSplit: (id -> bucket, split) survives any layout") {
    assertInvariant(docs.select("id", "grp"), "hashSplit")(
      Prep.hashSplit(_, "id"))
  }

  test("groupSample: the selected id set survives any layout") {
    assertInvariant(docs, "groupSample")(df =>
      Prep.groupSample(df, "id", "grp", perGroup = 7).select("id", "grp"))
  }

  test("weightedSample: the kept id set survives any layout") {
    assertInvariant(docs, "weightedSample")(df =>
      Prep.weightedSample(df, "id", "grp",
        Map("g0" -> 0.4, "g1" -> 0.9), defaultWeight = 0.7).select("id"))
  }

  test("deterministicShuffle: id -> shuffle_pos mapping survives any layout") {
    assertInvariant(docs, "deterministicShuffle")(df =>
      Prep.deterministicShuffle(df, "id").select("id", "shuffle_pos"))
  }

  test("packSequences: id -> (shard, bin) survives any layout") {
    assertInvariant(docs, "packSequences")(df =>
      Prep.packSequences(df, "id", "toks", maxTokens = 64, shards = 8)
        .select("id", "shard", "bin"))
  }

  /** Collect-and-rewrap for operators using the plan-lifetime cache
    * convention, so each layout's run drops its cached frames instead of
    * the next layout silently reading the previous layout's cache (which
    * would make this spec vacuously pass). */
  private def rematerialize(out: DataFrame): DataFrame = {
    val rows = out.collect()
    spark.sharedState.cacheManager.clearCache()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), out.schema)
  }

  test("minhashPairs: the near-dup pair set survives any layout") {
    assertInvariant(docs, "minhashPairs") { df =>
      rematerialize(Dedup.minhashPairs(df, "id", "text", threshold = 0.5)
        .select("id_a", "id_b"))
    }
  }

  test("simhashPairs: the near-dup pair set survives any layout") {
    // band 8 runs through the generalized multi-index banding (9
    // chunks of ~7 bits — r15: recall exact at every band, where the
    // old fixed 4x16 split was silently incomplete past hamming 3)
    assertInvariant(docs, "simhashPairs") { df =>
      val out = Dedup.simhashPairs(df, "id", "text", maxHamming = 8)
        .select("id_a", "id_b")
      rematerialize(out)
    }
  }

  test("ngramJaccardPairs (pruned): the pair set survives any layout") {
    // cap 60 < 120 docs sharing the boilerplate prefix: the stop set is
    // genuinely nonempty here, so the anti-join path is what's tested
    assertInvariant(docs, "ngramJaccardPairs")(df =>
      Dedup.ngramJaccardPairs(df, "id", "text", threshold = 0.4,
        maxDocFreq = Some(60)).select("id_a", "id_b"))
  }

  test("keepFirst survivors: the kept id set survives any layout") {
    assertInvariant(docs, "keepFirst") { df =>
      val pairs = Dedup.minhashPairs(df, "id", "text", threshold = 0.5)
      rematerialize(Dedup.keepFirst(df, "id", pairs).select("id"))
    }
  }

  test("connectedComponents (distributed path): labels survive any layout") {
    // permuted-id chains of length 6 — worst case for order assumptions
    val edges = (0 until 180).flatMap { i =>
      val chain = i / 6
      if (i % 6 == 5) Nil
      else {
        def pid(k: Int) = (k * 131L + 29L) % 1021L
        Seq((pid(chain * 6 + i % 6), pid(chain * 6 + i % 6 + 1)))
      }
    }.toDF("id_a", "id_b").withColumn("grp", col("id_a") % 3)
    assertInvariant(edges, "connectedComponents")(df =>
      Dedup.connectedComponentsWithRounds(df.select("id_a", "id_b"))._1)
  }

  test("kmeans: centroids and assignments survive any layout") {
    // 3 well-separated clusters so the 6dp rounding kmeans applies
    // per-iteration (its own fp-portability defense against
    // non-associative partition-order sums) can never flip an
    // assignment at a decision boundary
    val vecs = (0 until 60).map { i =>
      val id = (i * 53L + 7L) % 499L
      val c = i % 3
      (id, s"g$c", Array(c * 10.0f + (i % 5) * 0.01f,
        c * -6.0f + (i % 7) * 0.01f))
    }.toDF("id", "grp", "vec")
    assertInvariant(vecs, "kmeans") { df =>
      val cents = Similarity.kmeans(df, "id", "vec", k = 3, iters = 3)
      Similarity.ivfAssign(df, "id", "vec", cents).join(cents, "cid")
    }
  }

  test("kmeansSampled: the sampled trainer survives any layout (the " +
      "take-N is fully ordered — md5 rank + id tie-break)") {
    val vecs = (0 until 60).map { i =>
      val id = (i * 53L + 7L) % 499L
      val c = i % 3
      (id, s"g$c", Array(c * 10.0f + (i % 5) * 0.01f,
        c * -6.0f + (i % 7) * 0.01f))
    }.toDF("id", "grp", "vec")
    assertInvariant(vecs, "kmeansSampled") { df =>
      val cents = Similarity.kmeansSampled(df, "id", "vec", k = 3,
        sampleN = 20, iters = 3)
      Similarity.ivfAssign(df, "id", "vec", cents).join(cents, "cid")
    }
  }

  test("capPerGroup: the kept set survives any layout") {
    val rows = (0 until 90).map { i =>
      val id = (i * 67L + 13L) % 997L
      (id, s"g${i % 5}", (id % 7).toDouble)
    }.toDF("id", "grp", "score")
    assertInvariant(rows, "capPerGroup")(df =>
      Prep.capPerGroup(df, "grp", 4,
        Seq(col("score").desc, col("id").asc)))
  }

  test("upsert: the merged corpus survives any layout") {
    val corpus = (0 until 60).map { i =>
      val id = (i * 67L + 13L) % 997L
      (id, s"g${i % 5}", s"text-$id")
    }.toDF("id", "grp", "text")
    assertInvariant(corpus, "upsert") { df =>
      val batch = df.filter(col("id") % 3 === 0)
        .withColumn("text", concat(col("text"), lit(" v2")))
      Prep.upsert(df, batch, "id")
    }
  }

  test("heavyHitters: the exact top-k survives any layout") {
    val docs = (0 until 80).map { i =>
      val heavy = Seq.fill(5)("alpha") ++ Seq.fill(3)("beta") ++
        Seq.fill(2)("gamma")
      ((i * 41L + 3L) % 509L, s"g${i % 3}",
        (heavy :+ s"u$i").mkString(" "))
    }.toDF("id", "grp", "text")
    assertInvariant(docs, "heavyHitters")(df =>
      graft.operators.TextAnalysis.heavyHitters(df, "id", "text",
        k = 3, candidates = 10, samplePct = 25))
  }

  test("semanticDedup: the keep/drop decision table survives any layout") {
    val emb = Rigs.syntheticClusteredCorpus(spark, 48, dim = 8,
        clusters = 4, noiseScale = 0.15)
      .withColumn("grp", col("vec_id") % 3)
    assertInvariant(emb, "semanticDedup")(df =>
      rematerialize(Dedup.semanticDedup(df, "vec_id", "embedding",
        k = 4, iters = 2, threshold = 0.85)))
  }

  test("bpe train: the merge trajectory survives any layout") {
    // iterated argmax loops amplify any layout sensitivity: one
    // flipped tie in step 1 rewrites every later step
    assertInvariant(docs, "bpeTrain")(df =>
      rematerialize(graft.operators.Bpe.train(df, "text", nMerges = 4)))
  }

  test("videoDedupPairs (stop-frame pruned): the pair set survives " +
      "any layout") {
    // 36 videos in 6 frame-groups, every video carrying one UBIQUITOUS
    // frame (doc-freq 36 > cap 10, so the r17 prune genuinely fires)
    // plus 4 group frames (doc-freq 6, kept) — the pairs that survive
    // are exactly the same-group ones, and they must not depend on
    // layout (the frame-hash doc-freq aggregate, the broadcast stop
    // set, and the inverted-index join all shuffle)
    import graft.operators.{MediaCodec, Multimodal}
    // the contract video rig's frame generator
    def frame(seed: Int): Array[Byte] = graft.queries.Pipeline.gradientPng(seed)
    val videos = (0 until 36).map { i =>
      val id = (i * 55L + 7L) % 997L
      val g = i % 6
      val seeds = Seq(g * 8, g * 8 + 1, g * 8 + 2, g * 8 + 3, 999)
      (id, s"g${i % 3}",
        MediaCodec.aviEncodeMpng(18, 16, 25, seeds.map(frame).toArray))
    }.toDF("id", "grp", "payload")
    assertInvariant(videos, "videoDedupPairs")(df =>
      Multimodal.videoDedupPairs(df, "id", "payload", threshold = 0.3,
        maxDocFreq = Some(10)).select("id_a", "id_b"))
  }

  test("hllSketch64: the register table survives any layout") {
    // xxhash64 register/rho derivation + groupBy(register) max — the
    // production-range twin must be as layout-blind as the md5 family
    assertInvariant(docs, "hllSketch64")(df =>
      graft.operators.Sketches.hllSketch64(df, "text", m = 64))
  }
}
