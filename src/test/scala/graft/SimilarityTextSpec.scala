package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Similarity, TextAnalysis}

class SimilarityTextSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.0f, 1.0f), 1))
    .toDF("vec_id", "embedding", "label")

  test("VectorFunctions: dot/cosine on float arrays in double") {
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot($"a", $"b"),
      VectorFunctions.cosine($"a", $"a")).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("cosine of zero vector is 0, not NaN") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosine($"a", $"b"))
      .collect()(0).getDouble(0) == 0.0)
  }

  test("bruteForceTopK returns k best neighbors, self excluded, ranked") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 2)
      .orderBy(desc("cosine")).collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 1L) // nearest is the 0.9/0.1 vector
    assert(out.forall(_.getLong(1) != 0L))
  }

  test("mmrTopK diversifies: the near-dup of the first pick loses its " +
      "top-2 slot to a distinct candidate") {
    // a is most relevant; b is a near-duplicate of a (cos(a,b) ~ .999)
    // with the second-best relevance; c is distinctly oriented. Plain
    // top-2 = (a, b); MMR at lambda .5 must pick (a, c) — the rerank's
    // whole purpose.
    val corpus = Seq(
      (1L, Array(0.98f, 0.199f, 0.0f)),   // a
      (2L, Array(0.97f, 0.243f, 0.0f)),   // b: near-dup of a
      (3L, Array(0.90f, 0.0f, 0.436f)))   // c: diverse
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val plain = Similarity.bruteForceTopK(corpus, queries, "vec_id",
        "embedding", k = 2)
      .orderBy("cosine").select("neighbor_id").as[Long].collect().toSeq
    assert(plain.toSet == Set(1L, 2L), "relevance alone keeps the near-dup")
    val mmr = Similarity.mmrTopK(corpus, queries, "vec_id", "embedding",
        k = 3, topN = 3, lambda = 0.5)
      .orderBy("step")
      .select("cand_id", "step").as[(Long, Int)].collect().toSeq
    assert(mmr.map(_._2) == Seq(1, 2, 3), "one pick per step")
    assert(mmr.map(_._1) == Seq(1L, 3L, 2L),
      s"expected greedy order a, c, b — got $mmr")
  }

  test("mmrTopK at k=16: the plan has as many nodes as at k=4, and the " +
      "greedy trajectory is prefix-stable vs k=4") {
    // 24 corpus vectors spread on a circle-ish fan so every greedy step
    // has a well-separated argmax; one query
    val corpus = (1 to 24).map { i =>
      val a = i * 0.13
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        (0.05 * i).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = Seq((0L, Array(1.0f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    def mmr(k: Int) = Similarity.mmrTopK(corpus, queries, "vec_id",
      "embedding", k = k, topN = 20, lambda = 0.7)
    // the greedy steps run inside one grouped pass, so k is not a plan
    // dimension at all
    def planNodes(k: Int) = mmr(k).queryExecution.logical
      .collect { case n => n }.size
    assert(planNodes(16) == planNodes(4))
    val got16 = mmr(16).orderBy("step")
      .select("cand_id", "step").as[(Long, Int)].collect().toSeq
    assert(got16.map(_._2) == (1 to 16), "one pick per step")
    assert(got16.map(_._1).distinct.size == 16, "no candidate re-picked")
    // greedy is prefix-stable: the first 4 picks of k=16 are exactly
    // the k=4 run
    val got4 = mmr(4).orderBy("step").select("cand_id").as[Long]
      .collect().toSeq
    assert(got16.map(_._1).take(4) == got4)
  }

  // eight vectors on a 45-degree-step ring around the x axis, each at 45
  // degrees from it, ring order unlike id order, plus exact duplicates
  // of two of them: every candidate has the same relevance to a query
  // on the axis (+-0.7071), pairwise sims take four values (0.8536,
  // 0.5, 0.1464, 0), and a duplicate pair has sim 1
  private def tieCorpus = {
    val ring = Seq(5L, 2L, 7L, 4L, 1L, 8L, 3L, 6L).zipWithIndex.map {
      case (id, i) =>
        val a = i * math.Pi / 4
        (id, Array(1.0f, math.cos(a).toFloat, math.sin(a).toFloat))
    }
    (ring ++ Seq((9L, ring(0)._2), (10L, ring(3)._2)))
      .toDF("vec_id", "embedding")
  }
  private def axisQueries = Seq((100L, Array(1.0f, 0.0f, 0.0f)),
    (101L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  test("mmrTopK on a tie-heavy corpus: ties go to the lowest cand_id and " +
      ".00005 midpoints round half up") {
    // lambda .5 puts every score past step 1 on a midpoint: 0.5 * 7071
    // minus 0.5 * an even sim. The expected trajectory is the output of
    // an independent implementation that ran each greedy step as its
    // own Spark stage (anti-join, max-sim aggregate, argmax)
    val got = Similarity.mmrTopK(tieCorpus, axisQueries, "vec_id",
        "embedding", k = 10, topN = 10, lambda = 0.5)
      .orderBy("query_id", "step")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val picks = Seq(1L, 5L, 3L, 7L, 2L, 4L, 6L, 8L, 9L, 10L)
    val up = Seq(0.7071, 0.3536, 0.1036, 0.1036, -0.0732, -0.0732,
      -0.0732, -0.0732, -0.1464, -0.1464)
    val down = Seq(-0.7071, -0.3535, -0.6035, -0.6035, -0.7803, -0.7803,
      -0.7803, -0.7803, -0.8535, -0.8535)
    def trajectory(q: Long, mmr: Seq[Double]) =
      picks.zip(mmr).zipWithIndex.map { case ((c, m), i) => (q, c, i + 1, m) }
    assert(got == trajectory(100L, up) ++ trajectory(101L, down))
  }

  test("building mmrTopK launches no Spark job") {
    val (_, work) = PlanCounters.measured(spark) {
      Similarity.mmrTopK(tieCorpus, axisQueries, "vec_id", "embedding",
        k = 8, topN = 10, lambda = 0.5)
    }
    assert(work.jobs == 0)
  }

  test("mmrTopK over a zero-row corpus or query set is empty, with the " +
      "four output columns") {
    for ((corpus, queries) <- Seq((tieCorpus.limit(0), axisQueries),
        (tieCorpus, axisQueries.limit(0)))) {
      val out = Similarity.mmrTopK(corpus, queries, "vec_id", "embedding",
        k = 4, topN = 8)
      assert(out.columns.toSeq == Seq("query_id", "cand_id", "step", "mmr"))
      assert(out.collect().isEmpty)
    }
  }

  test("mmrTopK with fewer candidates than k takes one step per candidate") {
    val got = Similarity.mmrTopK(tieCorpus.filter($"vec_id" <= 3L),
        axisQueries.limit(1), "vec_id", "embedding", k = 5, topN = 8)
      .orderBy("step").select("cand_id", "step").as[(Long, Int)]
      .collect().toSeq
    assert(got.map(_._2) == Seq(1, 2, 3))
    assert(got.map(_._1).sorted == Seq(1L, 2L, 3L))
  }

  test("lshTopK finds the strong neighbor (high-recall regime)") {
    val out = Similarity.lshTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 2, tables = 8, bits = 4, dim = 3)
      .collect()
    assert(out.map(_.getLong(1)).contains(1L))
  }

  test("ivfAssign maps each vector to its nearest centroid") {
    val cents = Seq(
      (0, Array(1.0, 0.0, 0.0)),
      (1, Array(0.0, 1.0, 0.0))).toDF("cid", "centroid")
    val out = Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
      .orderBy("vec_id").as[(Long, Int)].collect().toSeq
    // 0,1 point along x -> centroid 0; 2 along y -> centroid 1;
    // 3 along z is equidistant (cos 0 to both) -> tie broken to cid 0
    assert(out == Seq((0L, 0), (1L, 0), (2L, 1), (3L, 0)))
  }

  test("ivfTopK finds the strong neighbor through its probed list") {
    val cents = Seq(
      (0, Array(1.0, 0.0, 0.0)),
      (1, Array(0.0, 1.0, 0.0))).toDF("cid", "centroid")
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", cents, k = 2, nProbe = 1)
      .collect()
    // probe list 0 only: candidates {1} (vec 3 tie-assigned there, but
    // cosine to query is 0 and still ranks below vec 1)
    assert(out.map(_.getLong(1)).contains(1L))
    assert(out.forall(_.getLong(1) != 0L))
  }

  test("syntheticClusteredCorpus: deterministic, clustered, replayable") {
    val a = Rigs.syntheticClusteredCorpus(spark, n = 200,
      dim = 16, clusters = 10)
    val b = Rigs.syntheticClusteredCorpus(spark, n = 200,
      dim = 16, clusters = 10)
    // md5-derived, not rand(): two independent builds are identical
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // planted structure: mean same-cluster cosine far above cross-cluster
    val pairs = a.select($"vec_id".as("ia"), $"embedding".as("va"))
      .crossJoin(a.select($"vec_id".as("ib"), $"embedding".as("vb")))
      .filter($"ia" < $"ib")
      .select((($"ia" % 10) === ($"ib" % 10)).as("same"),
        VectorFunctions.cosine($"va", $"vb").as("cos"))
      .groupBy("same").agg(avg("cos").as("m"))
      .as[(Boolean, Double)].collect().toMap
    assert(pairs(true) > 0.8, s"same-cluster mean ${pairs(true)}")
    assert(pairs(true) - pairs(false) > 0.5,
      s"separation ${pairs(true)} vs ${pairs(false)}")
  }

  test("lshTopK recall >= 0.8 on a planted clustered corpus (autoBits)") {
    // the small-scale twin of the bench_lsh50k crossover guard: on a
    // corpus whose true neighbors are high-cosine cluster-mates, the
    // auto-sized bucketed probe must recover >= 80% of the exact top-5
    val corpus = Rigs.syntheticClusteredCorpus(spark, n = 1000,
      dim = 32, clusters = 25).localCheckpoint()
    val queries = corpus.filter($"vec_id" % 50 === 0)
    val brute = Similarity.bruteForceTopK(corpus, queries, "vec_id",
        "embedding", k = 5)
      .select($"query_id", $"neighbor_id")
    val lsh = Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
        k = 5, dim = 32)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    val recall = brute.join(lsh, Seq("query_id", "neighbor_id"), "left")
      .agg((sum(coalesce($"hit", lit(0L))) / count(lit(1))).as("r"))
      .head().getDouble(0)
    assert(recall >= 0.8, s"recall@5 $recall below the crossover floor")
  }

  test("randomProject + posexplode_outer keeps null-embedding rows visible") {
    // the sim_project query shape: a null vector must surface as ONE
    // (id, null, null) row — plain posexplode would drop the document
    val df = Seq((0L, Array.fill(8)(1.0f)),
      (1L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(df, "embedding", outDim = 4)
      .select($"vec_id", posexplode_outer($"projection").as(Seq("j", "v")))
      .collect()
    assert(out.count(_.getLong(0) == 0L) == 4)
    val nullRows = out.filter(_.getLong(0) == 1L)
    assert(nullRows.length == 1)
    assert(nullRows.head.isNullAt(1) && nullRows.head.isNullAt(2))
  }

  test("sim_recall_sweep: IVF recall is monotone in nProbe") {
    val out = SparkEntry.queries("sim_recall_sweep")(
        spark, "/root/testdata/sf0.001")
      .orderBy("n_probe")
      .select("n_probe", "recall").as[(Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 4L))
    // probing more lists only ADDS candidates — recall can never drop
    assert(out.sliding(2).forall { case Seq(a, b) => b._2 >= a._2 },
      s"recall not monotone: $out")
    assert(out.last._2 > 0.0)
  }

  test("kmeans separates well-separated groups deterministically") {
    val data = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.95f, 0.05f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.0f)), (11L, Array(0.1f, 0.9f, 0.0f)))
      .toDF("vec_id", "embedding")
    val c1 = Similarity.kmeans(data, "vec_id", "embedding", k = 2, iters = 3)
      .orderBy("cid").collect()
    val c2 = Similarity.kmeans(data, "vec_id", "embedding", k = 2, iters = 3)
      .orderBy("cid").collect()
    assert(c1.length == 2)
    assert(c1.map(_.toString).toSeq == c2.map(_.toString).toSeq) // determinism
    // cluster 0 seeded near x-axis ends up x-dominant; cluster 1 y-dominant
    val cent0 = c1(0).getSeq[Double](1)
    val cent1 = c1(1).getSeq[Double](1)
    assert(cent0.head > cent0(1) && cent1(1) > cent1.head)
    // assignment recovers the two groups
    val asg = Similarity.ivfAssign(data, "vec_id", "embedding",
        Similarity.kmeans(data, "vec_id", "embedding", 2, 3))
      .as[(Long, Int)].collect().toMap
    assert(asg(0L) == asg(1L) && asg(1L) == asg(2L))
    assert(asg(10L) == asg(11L) && asg(0L) != asg(10L))
  }

  test("kmeansSampled: degenerate sample (>= corpus) equals plain " +
      "kmeans; sampleN < k refuses") {
    val data = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.95f, 0.05f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.0f)), (11L, Array(0.1f, 0.9f, 0.0f)))
      .toDF("vec_id", "embedding")
    // sampleN >= n: the md5-rank take-N keeps every row, so the sampled
    // trainer must walk the exact trajectory of the full trainer
    val full = Similarity.kmeans(data, "vec_id", "embedding", k = 2,
        iters = 3)
      .orderBy("cid").collect().map(_.toString).toSeq
    val sampled = Similarity.kmeansSampled(data, "vec_id", "embedding",
        k = 2, sampleN = 5, iters = 3)
      .orderBy("cid").collect().map(_.toString).toSeq
    assert(sampled == full)
    // a real subsample still separates the two planted groups: the
    // final full-corpus assignment is what certifies training quality
    val cents = Similarity.kmeansSampled(data, "vec_id", "embedding",
      k = 2, sampleN = 3, iters = 3)
    val asg = Similarity.ivfAssign(data, "vec_id", "embedding", cents)
      .as[(Long, Int)].collect().toMap
    assert(asg(0L) == asg(1L) && asg(1L) == asg(2L))
    assert(asg(10L) == asg(11L) && asg(0L) != asg(10L))
    intercept[IllegalArgumentException] {
      Similarity.kmeansSampled(data, "vec_id", "embedding", k = 4,
        sampleN = 3)
    }
  }

  test("kmeans: inertia non-increasing over iterations, deterministic") {
    // ids 0..9 are ALL in the x-cluster, so both lowest-id seeds start
    // there; the iterations must still never raise inertia
    val data = ((0L until 10L).map(i =>
        (i, Array(1.0f, 0.05f * i, 0.0f))) ++
      (100L until 110L).map(i =>
        (i, Array(0.0f, 1.0f, 0.05f * (i - 100)))))
      .toDF("vec_id", "embedding")
    def inertia(iters: Int): Double =
      Rigs.kmeansInertia(data, "vec_id", "embedding",
        Similarity.kmeans(data, "vec_id", "embedding", k = 2, iters))
    // quality improves (never degrades) with more iterations
    val i1 = inertia(1)
    val i3 = inertia(3)
    assert(i3 <= i1 + 1e-9, s"inertia rose: $i1 -> $i3")
    // determinism of the seeded trajectory
    val a = Similarity.kmeans(data, "vec_id", "embedding", 2, 2)
      .orderBy("cid").collect().map(_.toString).toSeq
    val b = Similarity.kmeans(data, "vec_id", "embedding", 2, 2)
      .orderBy("cid").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("quantizeInt8: tinyint vectors, scale-exact extremes, cosine close") {
    val data = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f)),
      (1L, Array(0.9f, -0.4f, 0.2f)),   // near-parallel to 0
      (2L, Array(-1.0f, 0.5f, -0.25f)), // antipodal to 0
      (3L, Array(0.0f, 0.0f, 0.0f)))    // all-zero edge
      .toDF("vec_id", "embedding")
    val q8 = Similarity.quantizeInt8(data, "vec_id", "embedding")
    val rows = q8.orderBy("vec_id").collect()
    // the max-|v| component quantizes to exactly +/-127
    assert(rows(0).getSeq[Byte](rows(0).fieldIndex("qvec")) ==
      Seq[Byte](127, -63, 32)) // floor(-63.5+0.5) = -63; floor(31.75+.5)=32
    assert(rows(3).getSeq[Byte](rows(3).fieldIndex("qvec")) ==
      Seq[Byte](0, 0, 0))
    assert(rows(3).getDouble(rows(3).fieldIndex("qscale")) == 0.0)
    // cosine over quantized vectors (scales cancel) tracks float cosine
    val topk = Similarity.bruteForceTopK(q8, q8.filter($"vec_id" === 0),
        "vec_id", "qvec", k = 3)
      .orderBy(desc("cosine")).collect()
    assert(topk(0).getLong(1) == 1L)                 // nearest unchanged
    assert(topk(0).getDouble(2) > 0.99)
    assert(topk.last.getLong(1) == 2L)               // antipode last
    assert(topk.last.getDouble(2) < -0.99)
  }

  test("labelCentroids averages per label") {
    val out = Similarity.labelCentroids(vecs, "label", "embedding")
      .orderBy("label").collect()
    val c0 = out(0).getSeq[Double](1)
    assert(math.abs(c0.head - 0.95) < 1e-6)
    assert(out(0).getLong(2) == 2L)
  }

  test("token counting and estimate") {
    val df = Seq("hello world  foo", "a").toDF("text")
    val out = df.select(TextAnalysis.tokenCount($"text"),
      TextAnalysis.tokenEstimate($"text")).collect()
    assert(out(0).getInt(0) == 3)
    assert(out(1).getInt(0) == 1)
    assert(out(0).getInt(1) >= 3)
  }

  test("qualityMetrics fields are sane and deterministic") {
    val df = Seq("The quick brown fox, with the lazy dog!").toDF("text")
    val m = df.select(TextAnalysis.qualityMetrics($"text").as("m"))
      .select("m.*").collect()(0)
    assert(m.getAs[Int]("n_tokens") == 8)
    assert(m.getAs[Double]("stopword_ratio") == 0.375) // the, with, the
    assert(m.getAs[Double]("punct_ratio") > 0)
    assert(m.getAs[Double]("alpha_ratio") > 0.7)
  }

  test("qualityScore: long clean text beats short fragment") {
    val good = ("the data pipeline processes documents with care " * 5)
    val df = Seq(good, "x!!").toDF("text")
    val s = df.select(TextAnalysis.qualityScore($"text")).as[Double].collect()
    assert(s(0) > s(1))
  }

  test("langId picks marker language; deterministic alphabetic tie-break; und") {
    val df = Seq(
      "the cat and the dog sat in the garden with the birds",
      "der hund und die katze ist nicht mit der maus",
      "el perro y la casa es no con una mesa",
      "zzz qqq xxx").toDF("text")
    val out = df.select(TextAnalysis.langId($"text")).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "es", "und"))
  }

  test("normalize: lowercase, punct-free, single-spaced") {
    val df = Seq("  The QUICK,   brown (fox)!  ").toDF("text")
    assert(df.select(TextAnalysis.normalize($"text")).as[String].collect()(0)
      == "the quick brown fox")
  }

  test("hashFeatures: deterministic, dense, and cosine-faithful to content") {
    val df = Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "spark shuffles data across the cluster"), // identical content
      (3L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val fv = TextAnalysis.hashFeatures(df, "doc_id", "text", dim = 16)
    val rows = fv.orderBy("doc_id").collect()
    assert(rows.forall(_.getSeq[Double](1).length == 16))
    // identical text -> identical vector; token count preserved
    assert(rows(0).getSeq[Double](1) == rows(1).getSeq[Double](1))
    assert(rows(0).getSeq[Double](1).sum == 6.0)
    // identical docs are cosine-1 neighbors; the unrelated doc is not
    val nn = Similarity.bruteForceTopK(fv, fv.filter($"doc_id" === 1),
        "doc_id", "features", k = 2)
      .orderBy(desc("cosine")).collect()
    assert(nn(0).getLong(1) == 2L && math.abs(nn(0).getDouble(2) - 1.0) < 1e-12)
    assert(nn(1).getDouble(2) < 0.9)
  }

  test("heavyHitters: sample-and-verify equals the exact full-shuffle " +
      "top-k, counts exact") {
    // permuted ids; every doc carries the heavy tokens plus a unique
    // rare tail, so candidate coverage is structural, not lucky
    val corpus = (0 until 120).map { i =>
      val heavy = Seq.fill(6)("alpha") ++ Seq.fill(4)("beta") ++
        Seq.fill(2)("gamma")
      ((i * 37L + 11L) % 1009L,
        (heavy ++ Seq(s"rare${i}a", s"rare${i}b")).mkString(" "))
    }.toDF("doc_id", "text")
    val hh = TextAnalysis.heavyHitters(corpus, "doc_id", "text",
        k = 3, candidates = 10, samplePct = 25)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = corpus
      .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t").asc).limit(3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hh == exact)
    assert(hh.map(_._1) == Seq("alpha", "beta", "gamma"))
    assert(hh.map(_._2) == Seq(720L, 480L, 240L)) // exact, not estimates
  }

  test("repetition metrics: looping phrase scores high, varied text low") {
    val df = Seq(
      (1L, "buy now buy now buy now buy now buy now"),
      (2L, "each word here appears exactly once in this doc"),
      (3L, ""), (4L, "one two"))
      .toDF("id", "text")
    val out = df.select($"id",
        TextAnalysis.dupNgramFrac($"text", 3).as("d3"),
        TextAnalysis.topNgramFrac($"text", 2).as("t2"))
      .orderBy("id").collect()
    // doc 1: 10 tokens -> 8 trigrams, only 2 distinct -> dup = 6/8
    assert(math.abs(out(0).getDouble(1) - 0.75) < 1e-12)
    // doc 1 bigrams: 9 total, "buy now" x5 -> top share 5/9
    assert(math.abs(out(0).getDouble(2) - 5.0 / 9) < 1e-12)
    // varied doc repeats nothing
    assert(out(1).getDouble(1) == 0.0)
    assert(math.abs(out(1).getDouble(2) - 1.0 / 8) < 1e-12)
    // empty / sub-n docs are 0, not NaN
    assert(out(2).getDouble(1) == 0.0 && out(2).getDouble(2) == 0.0)
    assert(out(3).getDouble(1) == 0.0)
  }

  test("fingerprint is token-order-insensitive") {
    val df = Seq(("b a c", "a b c")).toDF("t1", "t2")
    val fp = df.select(TextAnalysis.fingerprint($"t1"),
      TextAnalysis.fingerprint($"t2")).collect()
    assert(fp(0).getString(0) == fp(0).getString(1))
  }
}
