package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions._
import graft.operators.Similarity

/** The per-level IVF probe as it ran before the sweep form existed, kept
  * as an independent reference: each nProbe level picks its own probe
  * prefix — `min_by` argmax over (-cos, cid) at nProbe=1, a row_number
  * window ordered by (cos desc, cid asc) above — takes the distinct
  * (query, neighbor) candidates of those lists, and cuts one top-k
  * window per query over pair scores that do not depend on the level. */
object IvfSweepReference {

  def probes(queries: DataFrame, centroids: DataFrame,
             nProbe: Int): DataFrame = {
    val scored = queries.crossJoin(centroids.select("cid", "centroid"))
      .withColumn("c_cos", cosineFromParts(
        dot(col("embedding"), col("centroid")),
        normSq(col("embedding")), normSq(col("centroid"))))
    if (nProbe == 1)
      scored.groupBy(col("vec_id")).agg(
        min_by(col("cid"), struct(negate(col("c_cos")), col("cid")))
          .as("cid"))
    else
      scored.withColumn("rn", row_number().over(Window
          .partitionBy("vec_id").orderBy(col("c_cos").desc, col("cid").asc)))
        .filter(col("rn") <= nProbe)
        .select("vec_id", "cid")
  }

  /** Top-k per query among the level's candidates; `scores` holds
    * (query_id, neighbor_id, cosine) for every pair. */
  def level(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
            scores: DataFrame, nProbe: Int, k: Int): Seq[Row] = {
    val lists = Similarity.ivfAssign(corpus, "vec_id", "embedding",
      centroids).withColumnRenamed("vec_id", "neighbor_id")
    val cand = probes(queries, centroids, nProbe)
      .withColumnRenamed("vec_id", "query_id")
      .join(lists, "cid")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    sorted(cand.join(scores, Seq("query_id", "neighbor_id"))
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cosine"))
  }

  def sorted(df: DataFrame): Seq[Row] =
    df.orderBy("query_id", "neighbor_id").collect().toSeq

  /** Every disagreement, per index kind and level, between the sweep at
    * `levels`, the reference, and the single-level call; empty when the
    * sweep reproduces the per-level probes exactly. */
  def mismatches(e: DataFrame, q: DataFrame, cents: DataFrame,
                 pqBooks: DataFrame, resBooks: DataFrame, levels: Seq[Int],
                 k: Int): Seq[String] = {
    val all = e.count().toInt // k this deep scores every pair
    val id = "vec_id"
    val v = "embedding"
    val kinds = Seq(
      ("ivf", Similarity.bruteForceTopK(e, q, id, v, k = all),
        Similarity.ivfTopKSweep(e, q, id, v, cents, levels, k = k),
        (np: Int) => Similarity.ivfTopK(e, q, id, v, cents, k = k,
          nProbe = np)),
      ("ivfpq", Similarity.pqTopK(e, q, id, v, pqBooks, k = all),
        Similarity.ivfPqTopKSweep(e, q, id, v, cents, pqBooks, levels,
          k = k),
        (np: Int) => Similarity.ivfPqTopK(e, q, id, v, cents, pqBooks,
          k = k, nProbe = np)),
      // probing every list scores every pair, and a pair's residual ADC
      // score does not depend on how many lists were probed
      ("ivfpq_res", Similarity.ivfPqResidualTopK(e, q, id, v, cents,
          resBooks, k = all, nProbe = cents.count().toInt),
        Similarity.ivfPqResidualTopKSweep(e, q, id, v, cents, resBooks,
          levels, k = k),
        (np: Int) => Similarity.ivfPqResidualTopK(e, q, id, v, cents,
          resBooks, k = k, nProbe = np)))
    kinds.flatMap { case (kind, scores, sweep, single) =>
      val rows = sweep.collect().toSeq
      levels.flatMap { np =>
        val want = level(e, q, cents, scores, np, k)
        val slice = rows.filter(_.getInt(0) == np)
          .map(r => Row(r.get(1), r.get(2), r.get(3)))
          .sortBy(r => (r.getLong(0), r.getLong(1)))
        Seq(
          (want.isEmpty, s"$kind nProbe=$np: empty reference"),
          (slice != want, s"$kind nProbe=$np: sweep level differs"),
          (sorted(single(np)) != want,
            s"$kind nProbe=$np: single-level call differs"))
          .collect { case (true, msg) => msg }
      } ++ (if (rows.map(_.getInt(0)).toSet == levels.toSet) Nil
            else Seq(s"$kind: sweep levels ${rows.map(_.getInt(0)).toSet}"))
    }
  }
}

/** The one-pass nProbe sweep against the per-level probes it replaces:
  * for each index kind, every level of the sweep must equal, row for row
  * and score for score, what a separate probe at that nProbe returns —
  * including when a query's cosine to two centroids ties, where both
  * must take the lower cid first. */
class IvfSweepSpec extends SparkTestBase {
  import spark.implicits._

  private val Levels = Seq(1, 2, 4)

  // dim 4 over four axis centroids: ids 0-3 tie two or three centroids
  // exactly (same dot, same norms), id 4 is the zero vector (cosine 0
  // to every centroid), the rest are small integer mixes with further
  // ties; queries are the whole corpus
  private def corpus: DataFrame = (Seq(
      Array(1f, 1f, 0f, 0f), Array(1f, 1f, 1f, 0f), Array(0f, 1f, 1f, 0f),
      Array(1f, 0f, 0f, 1f), Array(0f, 0f, 0f, 0f)) ++
    (5 until 24).map(i => Array.tabulate(4)(d => ((i * 7 + d * 3) % 5).toFloat)))
    .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    .toDF("vec_id", "embedding")

  private def cents: DataFrame = (0 until 4)
    .map(c => (c, Array.tabulate(4)(d => if (d == c) 1.0 else 0.0)))
    .toDF("cid", "centroid")

  test("the fixture ties: the probe prefix takes the lower cid first") {
    // (1,1,0,0) ties centroids 0 and 1 (then 2 and 3 at cosine 0);
    // (1,1,1,0) ties 0, 1 and 2 — both reference forms (min_by at 1,
    // window above) take the lowest cids first, the order the sweep's
    // one probe rank must reproduce
    val q = corpus.filter($"vec_id" < 2)
    for (np <- 1 to 3)
      assert(IvfSweepReference.probes(q, cents, np)
        .groupBy("vec_id").agg(sort_array(collect_set("cid")))
        .as[(Long, Seq[Int])].collect().toMap ==
        Map(0L -> (0 until np), 1L -> (0 until np)))
  }

  test("each sweep level equals its single-level probe on a tie-heavy " +
      "corpus (IVF, IVF-PQ, residual IVF-PQ)") {
    val e = corpus
    val books = Similarity.pqTrain(e, "vec_id", "embedding", m = 2,
      ksub = 4, iters = 2).localCheckpoint()
    val resBooks = Similarity.pqTrain(
      Similarity.ivfResiduals(e, "vec_id", "embedding", cents),
      "vec_id", "rvec", m = 2, ksub = 4, iters = 2).localCheckpoint()
    val bad = IvfSweepReference.mismatches(e, e, cents, books, resBooks,
      Levels, k = 3)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("sweep levels must be a non-empty set of positive list counts") {
    for (bad <- Seq(Seq.empty[Int], Seq(0, 2)))
      intercept[IllegalArgumentException] {
        Similarity.ivfTopKSweep(corpus, corpus, "vec_id", "embedding",
          cents, bad)
      }
  }

  test("sim_recall_sweep on a zero-row corpus returns no rows, as the " +
      "oracle does") {
    val dir = java.nio.file.Files.createTempDirectory("empty_sweep")
    try {
      Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      val out = SparkEntry.queries("sim_recall_sweep")(spark, dir.toString)
      assert(out.columns.toSeq == Seq("n_probe", "k", "n_hit", "recall"))
      assert(out.collect().isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
