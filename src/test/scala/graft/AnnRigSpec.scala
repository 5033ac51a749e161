package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.PlanCounters._
import graft.operators.Similarity

/** The ANN crossover rig at test scale: a 5,000-vector clustered corpus
  * (50 planted clusters of 100, dim 64) with 50 queries. Every quality
  * floor and every scale conclusion is asserted on a counted metric —
  * recall, parquet bytes, pairs scored, rows read — never on seconds. */
class AnnRigSpec extends RigSpec {

  private val N = 5000L
  private val Clusters = 50
  private val Probes = 2

  private lazy val corpus =
    Similarity.syntheticClusteredCorpus(spark, N, clusters = Clusters)
      .localCheckpoint()
  private lazy val queries = corpus.filter(col("vec_id") % 100 === 0)
  private lazy val cents = Similarity.labelCentroids(
      corpus.withColumn("label", col("vec_id") % Clusters),
      "label", "embedding")
    .select(col("label").as("cid"), col("centroid")).localCheckpoint()
  private lazy val lists =
    Similarity.ivfAssign(corpus, "vec_id", "embedding", cents)
      .localCheckpoint()
  private lazy val q8 = Similarity.quantizeInt8(corpus, "vec_id",
    "embedding").select("vec_id", "qvec").localCheckpoint()
  private lazy val pqBooks = Similarity.pqTrain(corpus, "vec_id",
    "embedding", m = 8, ksub = 64, iters = 2).localCheckpoint()
  private lazy val pqCodes = Similarity.pqEncode(corpus, "vec_id",
    "embedding", pqBooks).localCheckpoint()

  private def brute = Similarity.bruteForceTopK(corpus, queries, "vec_id",
    "embedding", k = 10)
  private def lsh = Similarity.lshTopK(corpus, queries, "vec_id",
    "embedding", k = 10)
  private def ivf = Similarity.ivfTopK(corpus, queries, "vec_id",
    "embedding", cents, k = 10, nProbe = Probes,
    prebuiltLists = Some(lists))

  test("recall@10 >= 0.8 against brute force for lsh, ivf, q8, pq, " +
      "ivfpq and residual ivfpq") {
    val residuals = Similarity.ivfResiduals(corpus, "vec_id", "embedding",
      cents, prebuiltLists = Some(lists)).localCheckpoint()
    val resBooks = Similarity.pqTrain(residuals, "vec_id", "rvec", m = 8,
      ksub = 64, iters = 2).localCheckpoint()
    val resCodes = Similarity.ivfPqResidualEncode(residuals, "vec_id",
      cents, resBooks)
    val exact = brute.localCheckpoint()
    val paths = Seq(
      "lsh" -> lsh,
      "ivf" -> ivf,
      "q8" -> Similarity.bruteForceTopK(q8,
        q8.filter(col("vec_id") % 100 === 0), "vec_id", "qvec", k = 10),
      "pq" -> Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
        pqBooks, k = 10, shortlist = 100, prebuiltCodes = Some(pqCodes)),
      "ivfpq" -> Similarity.ivfPqTopK(corpus, queries, "vec_id",
        "embedding", cents, pqBooks, k = 10, nProbe = Probes,
        shortlist = 100, prebuiltLists = Some(lists),
        prebuiltCodes = Some(pqCodes)),
      "ivfpq_res" -> Similarity.ivfPqResidualTopK(corpus, queries,
        "vec_id", "embedding", cents, resBooks, k = 10, nProbe = Probes,
        shortlist = 100, prebuiltCodes = Some(resCodes)))
    for ((name, df) <- paths) {
      val r = annRecall(exact, df)
      info(f"recall@10[$name] = $r%.4f")
      assert(r >= 0.8, s"$name recall@10 $r below the 0.8 floor")
    }
  }

  test("the PQ index (codes + codebooks) is >= 6x smaller on parquet " +
      "than the float corpus") {
    val base = java.nio.file.Files.createTempDirectory("graft_pq_rig")
    def bytes(df: DataFrame, name: String): Long = {
      val dir = base.resolve(name)
      df.write.mode("overwrite").parquet(dir.toString)
      val st = java.nio.file.Files.walk(dir)
      try st.filter(_.toString.endsWith(".parquet"))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
    val floatBytes = bytes(corpus.select("vec_id", "embedding"), "float")
    val pqBytes = bytes(pqCodes, "codes") + bytes(pqBooks, "books")
    info(s"float=$floatBytes pq=$pqBytes " +
      f"(${floatBytes.toDouble / pqBytes}%.1fx)")
    assert(pqBytes * 6 <= floatBytes)
  }

  test("lsh and ivf score a small fraction of the corpus per query; " +
      "brute force scores all of it") {
    // pairs scored = the widest join's output: the (query, candidate)
    // rows that reach the cosine kernel
    def fraction(df: DataFrame): Double =
      joinOutputRowsOf(df).head.toDouble / (queries.count() * N)
    val (b, l, i) = (fraction(brute), fraction(lsh), fraction(ivf))
    info(f"fraction scored per query: brute=$b%.4f lsh=$l%.4f ivf=$i%.4f")
    assert(b > 0.99)
    // measured lsh 0.517 / ivf 0.040 (2 of 50 lists); bounds carry a
    // 1.3x margin
    assert(l <= 0.67, s"lsh scored $l of the corpus per query")
    assert(i <= 0.052, s"ivf scored $i of the corpus per query")
  }

  // coarse-quantizer training: KmIters full-corpus passes vs the same
  // iterations over an md5-rank sample (5% of the 5k corpus)
  private val K = 16
  private val Iters = 4
  private val SampleN = 256

  private def full(df: DataFrame, iters: Int = Iters) =
    Similarity.kmeans(df, "vec_id", "embedding", k = K, iters = iters)
  private def sampled(df: DataFrame, iters: Int = Iters) =
    Similarity.kmeansSampled(df, "vec_id", "embedding", k = K,
      sampleN = SampleN, iters = iters)

  test("sampled k-means: inertia within 1.10x of the full trainer's") {
    val fi = Similarity.kmeansInertia(corpus, "vec_id", "embedding",
      full(corpus))
    val si = Similarity.kmeansInertia(corpus, "vec_id", "embedding",
      sampled(corpus))
    info(f"inertia full=$fi%.3f sampled=$si%.3f ratio=${si / fi}%.4f")
    assert(si <= 1.10 * fi)
  }

  test("sampled k-means reads far fewer rows than the full trainer, and " +
      "its per-iteration reads stay flat when the corpus grows 4x") {
    // rows read = records read from the checkpointed corpus and from
    // every block the trainer materializes (its sample, its centroids)
    def rowsRead(train: => DataFrame): Long =
      measured(spark)(train.collect())._2.recordsRead
    val big = Similarity.syntheticClusteredCorpus(spark, 4 * N,
      clusters = Clusters).localCheckpoint()
    def assigned(df: DataFrame, cents: => DataFrame): Long = rowsRead(
      Similarity.ivfAssign(df, "vec_id", "embedding", cents)
        .groupBy("cid").count())
    val withAssign = (assigned(corpus, sampled(corpus)),
      assigned(corpus, full(corpus)))
    val small = (rowsRead(sampled(corpus)), rowsRead(full(corpus)))
    val large = (rowsRead(sampled(big)), rowsRead(full(big)))
    // the work a training iteration adds: rows read at Iters minus at 2
    def perIter(df: DataFrame) =
      (rowsRead(sampled(df)) - rowsRead(sampled(df, 2))) / (Iters - 2)
    val (iterSmall, iterLarge) = (perIter(corpus), perIter(big))
    info(s"train+assign sampled/full=$withAssign; train 5k=$small " +
      s"20k=$large; sampled rows/iteration 5k=$iterSmall 20k=$iterLarge")
    // measured 3.6x / 5.4x / 7.2x fewer; bounds carry a 1.3x margin
    assert(withAssign._1 * 2.8 < withAssign._2)
    assert(small._1 * 4.2 < small._2)
    assert(large._1 * 5.5 < large._2)
    assert(iterLarge < 2 * iterSmall)
  }
}
