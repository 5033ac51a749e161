package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.EngineError.AnalysisError
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, per the standard scale playbook:
  *  - [[bruteForceTopK]]: exact cosine top-k. The *query* side is
  *    broadcast (queries are few), the corpus is scanned once partition-
  *    parallel, and per-query top-k is a TakeOrdered-style window — the
  *    correct exhaustive baseline even at 100 TB when the query set is
  *    bounded.
  *  - [[lshTopK]]: sign-random-projection bucketed search (IVF-style
  *    probe): corpus is pre-bucketed (shuffle once, reusable), each query
  *    probes only matching buckets across tables, then exact cosine ranks
  *    the candidates. Recall is tunable via tables x bits.
  */
object Similarity {

  /** Exact brute-force cosine top-k for each query vector.
    * Output: (query id, neighbor id, cosine), k rows per query. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int = 10): DataFrame = {
    // norms computed once per vector, not once per pair
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      normSq(col(vecCol)).as("q_nsq"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      normSq(col(vecCol)).as("c_nsq"))
    // prune to the 3 output columns BEFORE the window: the top-k
    // exchange+sort then moves ~24B/row instead of both vectors
    // (~550B/row at dim=64 — at all-pairs scale that is the difference
    // between sorting gigabytes and sorting megabytes)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromParts(dot(col("q_vec"), col("c_vec")),
          col("q_nsq"), col("c_nsq")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein
    * 1998): exact top-`topN` candidates per query by cosine, then `k`
    * greedy picks — the first is the most relevant; each next maximizes
    * `lambda·rel − (1−lambda)·maxSimToSelected`, trading relevance
    * against redundancy (the rerank a RAG/retrieval stage runs so five
    * near-identical passages don't fill the context window).
    *
    * Determinism is built the way the k-means trajectory oracle is:
    * every relevance/diversity cosine is floor-rounded to 4dp
    * ([[TextAnalysis.round4]] — portable IEEE floor, not round())
    * BEFORE each argmax, and ties break by candidate id. The MMR
    * combine itself runs in EXACT INTEGER space: rel and max_sim are
    * already 1e-4 multiples, so `λ·rel − (1−λ)·max_sim` lands exactly
    * on decimal .00005 midpoints whenever λ has few decimal digits —
    * the one place a 1-ulp double difference between engines flips the
    * 4th decimal (caught live: one sf0.1 row, 0.2035 vs 0.2036). Both
    * engines therefore rescale to integer ten-thousandths, combine
    * with integer λ (λ must carry at most 4 decimal digits), and
    * floor-divide — identical integers, identical doubles, no
    * midpoint ambiguity anywhere in the trajectory.
    *
    * Scale shape: the corpus is touched exactly once (the candidate
    * top-N). Every (candidate, other) similarity of a query is scored
    * once, by one self-join of its ≤ topN candidates (topN² rows per
    * query), and the k greedy picks then run per query over those rows
    * in ONE grouped pass — each step reuses the pair scores instead of
    * re-scoring the remaining candidates against the selection (the
    * incremental top-k idea: compute each similarity once). The plan
    * does not grow with k and building it launches no Spark job.
    * Output: (query_id, cand_id, step 1..k, mmr); a query with fewer
    * than k candidates gets one step per candidate.
    *
    * @param lambda relevance/diversity trade-off in [0,1]; MUST carry at
    *               most 4 decimal digits (0.7, 0.25, 0.3333 — not 1.0/3):
    *               the exact-integer combine rescales λ to integer
    *               ten-thousandths and rejects anything that does not
    *               round-trip, throwing IllegalArgumentException. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 4, topN: Int = 16,
              lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && topN >= k, s"need topN >= k >= 1, got k=$k topN=$topN")
    val lamI = math.round(lambda * 10000).toInt
    require(math.abs(lamI / 10000.0 - lambda) < 1e-9,
      s"lambda must have at most 4 decimal digits for the exact-integer " +
        s"MMR combine: $lambda")
    val r4 = TextAnalysis.round4 _
    val cand = bruteForceTopK(corpus, queries, idCol, vecCol, k = topN)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        r4(col("cosine")).as("rel"))
      .join(corpus.select(col(idCol).as("cand_id"),
        col(vecCol).as("c_vec"), normSq(col(vecCol)).as("c_nsq")),
        "cand_id")
    val other = cand.select(col("query_id"), col("cand_id").as("o_id"),
      col("c_vec").as("o_vec"), col("c_nsq").as("o_nsq"))
    // rel and sim are 1e-4 multiples, so round(x * 10000) recovers their
    // exact integer ten-thousandths; the self pair is kept, so every
    // candidate (a lone one too) has its n rows
    val pairs = cand.join(other, "query_id")
      .select(col("query_id"), struct(col("cand_id"), col("o_id"),
        round(col("rel") * 10000).cast("long").as("rel"),
        round(r4(cosineFromParts(dot(col("c_vec"), col("o_vec")),
          col("c_nsq"), col("o_nsq"))) * 10000).cast("long").as("sim"))
        .as("pair"))
    // the greedy over one query's n x n pairs, sorted by (cand_id, o_id)
    // so row i*n + j pairs candidate i with candidate j, and a lower
    // index is a lower cand_id. Step 1 takes the highest rel; each next
    // step the highest exact-integer MMR score (see the scaladoc):
    // floor((i + 5000) / 10000) == floor(i / 10000 + 0.5) for integer
    // i — round4's half-up, midpoints decided exactly. Ties go to the
    // lower index. Returns (row index of the pick, mmr) per step; mmr
    // is the pick's rel at step 1 and its score / 10000 after that.
    val greedy = udf { (rows: Seq[Row]) =>
      val n = math.sqrt(rows.size.toDouble).round.toInt
      val rel = Array.tabulate(n)(i => rows(i * n).getLong(2))
      val maxSim = Array.fill(n)(Long.MinValue)
      val left = scala.collection.mutable.BitSet(0 until n: _*)
      (1 to math.min(k, n)).map { step =>
        def score(i: Int): Long =
          if (step == 1) rel(i)
          else Math.floorDiv(lamI * rel(i) - (10000L - lamI) * maxSim(i) +
            5000, 10000L)
        val best = left.maxBy(i => (score(i), -i))
        val pick = (best * n, score(best) / 10000.0)
        left -= best
        for (i <- left)
          maxSim(i) = math.max(maxSim(i), rows(i * n + best).getLong(3))
        pick
      }
    }
    pairs.groupBy("query_id")
      .agg(array_sort(collect_list(col("pair"))).as("pairs"))
      .select(col("query_id"), col("pairs"),
        posexplode(greedy(col("pairs"))))
      .select(col("query_id"),
        element_at(col("pairs"), col("col._1") + 1)
          .getField("cand_id").as("cand_id"),
        (col("pos") + 1).as("step"), col("col._2").as("mmr"))
  }

  /** Corpus rows per LSH bucket that [[autoBits]] aims for; the DuckDB
    * oracle of [[lshTopK]] derives its bucket width from the same value. */
  private[graft] val LshTargetBucket = 32

  /** Bucket width that keeps per-bucket candidate counts roughly constant
    * as the corpus grows: the smallest `bits` with `n / 2^bits <=`
    * [[LshTargetBucket]] (integer bit-length — exact, engine-portable: the
    * DuckDB oracle computes the identical value without touching floating
    * log2). n=500 -> 4, n=2000 -> 6, n=10^9 -> 25. */
  def autoBits(n: Long): Int = {
    val x = math.max(1L, (n - 1) / LshTargetBucket)
    math.max(2, 64 - java.lang.Long.numberOfLeadingZeros(x))
  }

  /** Session-lifetime memo for the corpus count behind [[autoBits]],
    * keyed by the canonicalized logical plan: repeated builds of the same
    * ANN query (bench reruns, interactive iteration) pay the count job
    * once. A corpus whose underlying files changed under the same plan
    * would need a new SparkSession (or an explicit `bits`) to re-count —
    * the standard immutable-input assumption. */
  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int), Long]()
  private def memoCount(df: DataFrame): Long = {
    val key = (df.queryExecution.analyzed.canonicalized.hashCode().toLong,
      System.identityHashCode(df.sparkSession))
    countMemo.computeIfAbsent(key, _ => df.count())
  }

  /** LSH-bucketed approximate top-k: probe only buckets the query lands
    * in. Same output shape as [[bruteForceTopK]]; neighbors the LSH tables
    * miss are absent (recall < 1 by design).
    *
    * `bits <= 0` (the default) derives the bucket width from the corpus
    * size via [[autoBits]] — one cheap count() (parquet-footer metadata for
    * file sources) buys a candidate set that stays ~`tables x`
    * [[LshTargetBucket]] per query no matter how large the corpus grows.
    * A fixed `bits` is the classic LSH scale trap: too few bits and every
    * query's candidate set approaches the whole corpus; too many and
    * recall collapses.
    *
    * Plan shape (2 small exchanges, corpus scanned once, never shuffled):
    * the corpus bucket frame carries the vector + its norm, so candidates
    * are scored inside the broadcast probe join's stage; duplicate
    * (query, neighbor) hits across tables collapse via a map-side-partial
    * `max(cosine)` (exact — every hit computes the identical cosine), and
    * the final per-query top-k is one window over ~tables x
    * [[LshTargetBucket]] rows per query.
    *
    * Recall is MEASURED, not asserted: the `sim_recall` query joins this
    * against [[bruteForceTopK]] — recall@5 = 0.995 (sf0.01, n=500,
    * auto bits=4) and 0.917 (sf0.1, n=2000, auto bits=6) at tables=8.
    * More tables raises recall (union of probes). Each query also probes
    * every 1-bit-flip neighbor of its bucket — per-table hit probability
    * rises from p^bits to p^bits + bits*p^(bits-1)*(1-p) at ZERO
    * corpus-side cost, which is what lets `bits` grow with the corpus
    * without recall collapsing (the probe sequence of Lv et al. 2007).
    * Buckets and hyperplanes are md5-derived ([[Dedup.md5Planes]]), so
    * the DuckDB oracle replays every probe. Probe fan-out is query-side
    * only: queries x tables x (bits+1) rows, still broadcast-sized for
    * any bounded query set.
    *
    * Honest cost model vs [[bruteForceTopK]] (per corpus row: brute pays
    * |q| dots, LSH pays tables*bits signature dots plus its share of
    * candidate re-ranks): LSH needs |q| >> tables*bits AND enough buckets
    * that the probed fraction is small. On the 2000-vector isotropic test
    * corpus (64 buckets, weak top-5 neighbors with per-bit agreement
    * p~0.6) the probed fraction is ~0.5, so LSH lands within ~1.2x of the
    * exhaustive scan rather than beating it — the crossover needs a larger
    * corpus (2^bits grows, probed fraction shrinks) or higher-similarity
    * targets (p->1 drives per-table hit prob to 1 at tiny coverage; see
    * `dd_embed_lsh` vs `dd_embed_pairs`, where the same bucket machinery
    * beats the brute pair scan outright). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, tables: Int = 8, bits: Int = 0,
              dim: Int = 64): DataFrame = {
    val b = if (bits > 0) bits else autoBits(memoCount(corpus))
    val cw = corpus.select(col(idCol), col(vecCol),
      normSq(col(vecCol)).as("c_nsq"))
    val cb = Dedup.embeddingBuckets(cw, idCol, vecCol, tables, b, dim,
        extraCols = Seq(vecCol, "c_nsq"))
      .withColumnRenamed(idCol, "neighbor_id")
      .withColumnRenamed(vecCol, "c_vec")
    // flip = -1 keeps the own bucket; flip = i probes the bucket with
    // signature bit i inverted. Probe rows carry ONLY (query_id, table,
    // bucket): the query vectors ride a second |queries|-sized broadcast
    // instead of being duplicated across tables x (bits+1) probe rows.
    val qb = Dedup.embeddingBuckets(queries.select(col(idCol), col(vecCol)),
        idCol, vecCol, tables, b, dim)
      .withColumnRenamed(idCol, "query_id")
      .withColumn("flip", explode(array((-1 until b).map(lit): _*)))
      .withColumn("bucket", when(col("flip") < 0, col("bucket"))
        .otherwise(col("bucket")
          .bitwiseXOR(expr("shiftleft(CAST(1 AS BIGINT), flip)"))))
      .drop("flip")
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), normSq(col(vecCol)).as("q_nsq"))
    // query buckets are queries x tables x probes rows — broadcast them so
    // the corpus bucket index never shuffles for the probe join, and score
    // candidates right inside that stage (both vectors are in hand)
    val scored = cb.join(broadcast(qb), Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineFromParts(dot(col("q_vec"), col("c_vec")),
          col("q_nsq"), col("c_nsq")).as("cosine"))
    // top-k directly over the RAW multi-table hits: duplicates of a
    // (query, neighbor) pair carry an identical (cosine, neighbor) sort
    // key, so dense_rank gives the k-th DISTINCT neighbor exactly k —
    // no pre-dedupe aggregate pass over the full candidate stream, and
    // WindowGroupLimit prunes each map partition to ~k rows per query
    // BEFORE the only exchange. The surviving duplicates (identical rows)
    // collapse in a dropDuplicates over ~queries x k rows.
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rn", dense_rank().over(w)).filter(col("rn") <= k)
      .dropDuplicates("query_id", "neighbor_id")
      .select("query_id", "neighbor_id", "cosine")
  }

  /** IVF coarse assignment: each vector joins its nearest centroid by
    * cosine (ties broken by centroid id). Centroids are broadcast (k is
    * small); one narrow pass over the corpus — the "build inverted lists"
    * half of IVF. Output: (idCol, cid). */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, cidCol: String = "cid",
                centCol: String = "centroid"): DataFrame =
    // argmax as a hash aggregate (map-side partials, no sort) instead of
    // a window — min over the struct (-cos, cid) is lexicographically
    // "max cosine, tie -> min cid", the order [[ivfProbeRanks]] ranks by
    centroidCosines(df, vecCol, centroids, cidCol, centCol)
      .groupBy(col(idCol)).agg(
        min_by(col(cidCol), struct(negate(col("c_cos")), col(cidCol)))
          .as(cidCol))

  /** Every (vector, centroid) pair with its cosine `c_cos`; centroids
    * broadcast. */
  private def centroidCosines(df: DataFrame, vecCol: String,
                              centroids: DataFrame, cidCol: String,
                              centCol: String): DataFrame =
    df.crossJoin(broadcast(centroids.select(col(cidCol), col(centCol))))
      .withColumn("c_cos", cosineFromParts(
        dot(col(vecCol), col(centCol)),
        normSq(col(vecCol)), normSq(col(centCol))))

  /** The query side of every IVF probe: each query's `maxProbe` nearest
    * lists, ranked once. Output: (query_id, cid, p_rank), where `p_rank`
    * 1 is the nearest list and ties break by cid — the [[ivfAssign]]
    * order, so p_rank 1 is exactly the list a query would be assigned
    * to. Queries are few, so the window costs nothing; what matters is
    * that the rank survives onto every candidate: the lists probed at
    * nProbe=p are exactly those with p_rank <= p, so one probe at the
    * deepest level serves every shallower one ([[sliceLevels]]). */
  private def ivfProbeRanks(queries: DataFrame, idCol: String,
                            vecCol: String, centroids: DataFrame,
                            cidCol: String, centCol: String,
                            maxProbe: Int): DataFrame = {
    val w = Window.partitionBy(idCol)
      .orderBy(col("c_cos").desc, col(cidCol).asc)
    centroidCosines(queries, vecCol, centroids, cidCol, centCol)
      .withColumn("p_rank", row_number().over(w))
      .filter(col("p_rank") <= maxProbe)
      .select(col(idCol).as("query_id"), col(cidCol), col("p_rank"))
  }

  /** The probed lists' members as (query_id, neighbor_id, p_rank); a
    * neighbor listed more than once enters once, at its nearest probed
    * list. `probes` is queries x nProbe rows — broadcast so the
    * corpus-sized inverted lists never shuffle. */
  private def ivfCandidates(probes: DataFrame, lists: DataFrame,
                            cidCol: String): DataFrame =
    broadcast(probes).join(lists, cidCol)
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id").agg(min("p_rank").as("p_rank"))

  /** Cross scored candidates (query_id, neighbor_id, p_rank, cosine) with
    * the requested probe levels, keeping a candidate at level `n_probe`
    * iff its list ranked within the first `n_probe` probes. Exact, not
    * approximate: a candidate's score does not depend on the level, and
    * the level-p candidate set is precisely the p_rank <= p slice of the
    * deepest level's. Output replaces p_rank with n_probe. */
  private def sliceLevels(scored: DataFrame, nProbes: Seq[Int]): DataFrame =
    scored.withColumn("n_probe", explode(typedLit(nProbes.distinct.sorted)))
      .filter(col("p_rank") <= col("n_probe"))
      .drop("p_rank")

  private def requireLevels(nProbes: Seq[Int]): Unit =
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      s"nProbe levels must be a non-empty set of positive list counts, " +
        s"got ${nProbes.mkString("[", ", ", "]")}")

  /** Top-k per `keys` group by (cosine desc, neighbor_id asc). */
  private def topKPer(scored: DataFrame, keys: Seq[String],
                      k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select((keys ++ Seq("neighbor_id", "cosine")).map(col): _*)
  }

  /** IVF-style approximate top-k: corpus vectors are inverted-listed under
    * their nearest centroid, each query probes only its `nProbe` nearest
    * lists, and exact cosine ranks the candidates — the classic
    * coarse-quantizer ANN, complementing the hyperplane-LSH path in
    * [[lshTopK]]. The one-level case of [[ivfTopKSweep]].
    *
    * The centroid set is an input (any (cid, centroid) frame): here it
    * comes from [[labelCentroids]]; production would train unsupervised
    * k-means — itself expressible as iterated [[ivfAssign]] +
    * posexplode-mean (the [[labelCentroids]] aggregation shape), one
    * shuffle per iteration. Recall is governed by nProbe/k (probing all k
    * lists degenerates to exact search restricted by quantization).
    * Corpus-side cost at scale: one broadcast-join pass to build lists
    * (no shuffle of the corpus), then each query touches only its probed
    * lists. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, centroids: DataFrame, k: Int = 10,
              nProbe: Int = 3, cidCol: String = "cid",
              centCol: String = "centroid"): DataFrame =
    ivfTopKSweep(corpus, queries, idCol, vecCol, centroids, Seq(nProbe),
      k, cidCol, centCol).drop("n_probe")

  /** [[ivfTopK]] at several nProbe levels in one pass — the recall curve
    * a user sweeps. Lists are ranked once per query up to the deepest
    * level, every candidate is scored once with its list's p_rank, and
    * each level is the p_rank <= n_probe slice of that one scored frame,
    * cut by a top-k window per (n_probe, query_id). Exact cosine makes
    * recall monotone in n_probe (a deeper level only adds candidates).
    * Output: (n_probe, query_id, neighbor_id, cosine), k rows per
    * (level, query). */
  def ivfTopKSweep(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, centroids: DataFrame, nProbes: Seq[Int],
                   k: Int = 10, cidCol: String = "cid",
                   centCol: String = "centroid"): DataFrame = {
    requireLevels(nProbes)
    val lists = ivfAssign(corpus, idCol, vecCol, centroids, cidCol, centCol)
      .withColumnRenamed(idCol, "neighbor_id")
    val cand = ivfCandidates(ivfProbeRanks(queries, idCol, vecCol,
      centroids, cidCol, centCol, nProbes.max), lists, cidCol)
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      normSq(col(vecCol)).as("q_nsq"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      normSq(col(vecCol)).as("c_nsq"))
    // prune before the window — same reasoning as in [[bruteForceTopK]]
    val scored = cand.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("p_rank"),
        cosineFromParts(dot(col("q_vec"), col("c_vec")),
          col("q_nsq"), col("c_nsq")).as("cosine"))
    topKPer(sliceLevels(scored, nProbes), Seq("n_probe", "query_id"), k)
  }

  /** Deterministic k-means over an embedding column — the unsupervised
    * coarse-quantizer trainer for [[ivfTopK]]. Init is the k lowest-id
    * vectors (deterministic and engine-portable, unlike random init,
    * but quality-poor when low ids cluster together, e.g. in
    * time-ordered corpora);
    * each iteration is one broadcast assignment pass ([[ivfAssign]]) plus
    * one posexplode-mean aggregation (the [[labelCentroids]] shape) — a
    * bounded number of shuffles per iteration, never a pair-space blowup,
    * so iterations scale exactly like a window aggregate. Centroid
    * components round to 6dp per iteration so independent runs — and
    * independent ENGINES — walk bit-identical trajectories (the
    * `sim_kmeans` query is value-verified against a DuckDB unrolling of
    * the same iterations). Per-iteration stats-truncating checkpoints
    * ([[graft.plans.Checkpoints]]) bound both the growing lineage and
    * the compounding plan-size estimates (the CC-loop lesson). A cluster left empty by an iteration drops out
    * (standard k-means behavior; k shrinks). */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
             iters: Int = 5): DataFrame = {
    val cents0 = df.orderBy(col(idCol).asc).limit(k)
      .select(col(idCol), toDouble(col(vecCol)).as("centroid"))
      .withColumn("cid",
        row_number().over(Window.orderBy(col(idCol).asc)) - 1)
      .select(col("cid"),
        transform(col("centroid"), x => round(x, 6)).as("centroid"))
    var cents = graft.plans.Checkpoints.truncated(cents0)
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(df, idCol, vecCol, cents)
      cents = graft.plans.Checkpoints.truncated(centroidMeans(
        df.join(assigned, idCol), Seq("cid"), toDouble(col(vecCol))))
    }
    cents
  }

  /** One Lloyd update, shared by [[kmeans]] and [[pqTrain]]: per `keys`
    * group of `members`, the coordinate-wise mean of `vec`, each
    * component rounded to 6dp (the engine-portable trajectory rule), as
    * `centroid` in coordinate order. */
  private def centroidMeans(members: DataFrame, keys: Seq[String],
                            vec: Column): DataFrame =
    members.select(keys.map(col) :+ posexplode(vec): _*)
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .groupBy(keys.map(col): _*).agg(
        transform(array_sort(collect_list(struct(col("pos"),
            round(col("s") / col("n"), 6).as("m")))),
          x => x.getField("m")).as("centroid"))

  /** [[kmeans]] trained on a deterministic md5-rank sample of `sampleN`
    * vectors — the 100 TB coarse-quantizer discipline: every [[kmeans]]
    * iteration is a FULL-corpus assignment pass, so training cost is
    * O(corpus × iters); a coarse quantizer's quality saturates long
    * before the sample does (FAISS trains IVF coarse centroids on ~30k
    * points per centroid), so iterate over a bounded sample and pay the
    * corpus only for the one final assignment the caller runs anyway
    * ([[ivfAssign]]). The sample is the `sampleN` lowest
    * md5("kms:" ++ id) ranks (id tie-break) — a seeded pseudo-uniform
    * draw, replayable across runs and ENGINES (the `sim_kmeans_sampled`
    * oracle replays the whole trajectory in DuckDB). The take-N is a
    * TakeOrdered (per-partition top-N, no global sort) and the sample
    * is checkpoint-materialized once, so the per-iteration cost scales
    * with sampleN, not the corpus. */
  def kmeansSampled(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    sampleN: Int, iters: Int = 5,
                    salt: String = "kms:"): DataFrame = {
    require(sampleN >= k,
      s"sampleN=$sampleN must be >= k=$k (every centroid needs a seed)")
    val sample = df.select(col(idCol), col(vecCol))
      .orderBy(md5(concat(lit(salt), col(idCol).cast("string"))).asc,
        col(idCol).asc)
      .limit(sampleN)
    kmeans(graft.plans.Checkpoints.truncated(sample), idCol, vecCol, k,
      iters)
  }

  /** Symmetric per-vector int8 quantization: scale = max|v_i| / 127,
    * q_i = floor(v_i / scale + 0.5) clamped to [-127, 127], stored as
    * `array<tinyint>` + the double scale — 4x smaller than float32 on
    * disk and through every shuffle, which at 100 TB of embeddings is
    * the difference between a cluster that fits and one that doesn't.
    *
    * `floor(x + 0.5)` (not round()) on purpose: floor and IEEE division
    * are bit-exact in every engine, so the quantized vectors — and any
    * verification downstream — replay identically in the DuckDB oracle;
    * round()'s half-case convention is not portable. Cosine over
    * quantized vectors needs NO dequantization: the scales cancel, so
    * [[bruteForceTopK]]/[[lshTopK]] run directly on the tinyint arrays
    * (VectorDot reads float, double, or tinyint elements). An all-zero
    * vector quantizes to zeros with scale 0 (cosine guards that case
    * already). Output: (idCol, qvecCol array<tinyint>, qscaleCol). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String,
                   qvecCol: String = "qvec",
                   qscaleCol: String = "qscale"): DataFrame = {
    val v = toDouble(col(vecCol))
    val scale = array_max(transform(v, x => abs(x))) / 127.0
    df.withColumn(qscaleCol, scale)
      .withColumn(qvecCol,
        when(col(qscaleCol) === 0.0,
          transform(v, _ => lit(0).cast("byte")))
          .otherwise(transform(v, x =>
            greatest(lit(-127.0), least(lit(127.0),
              floor(x / col(qscaleCol) + 0.5))).cast("byte"))))
  }

  /** Product-quantization codebook training: an independent deterministic
    * k-means (the [[kmeans]] recipe — lowest-id init, 6dp-rounded means
    * per iteration, argmin with cid tie-break) in each of `m` disjoint
    * coordinate subspaces of the embedding. Output: one codebook frame
    * `(sub, cid, centroid array<double>, c_nsq)` with cids DENSE per
    * subspace (empty clusters drop out and survivors renumber 0..k'-1 in
    * original cid order) — dense ids are what lets [[pqTopK]] flatten a
    * query's lookup table into one contiguous array.
    *
    * Why PQ at 100 TB: int8 ([[quantizeInt8]]) shrinks vectors 4x; PQ
    * shrinks them to `m` BYTES plus one shared m x ksub codebook —
    * 64 bytes -> 4-8 bytes at dim=64, the difference between an
    * embedding index that fits executor memory and one that doesn't.
    * Scale shape: per iteration one broadcast-join assignment pass over
    * the n x m subvector frame (the codebook is tiny, the corpus never
    * shuffles for it) and one posexplode mean aggregation — exactly the
    * [[kmeans]] cost times m, never a pair space.
    *
    * Assignment argmin is over `round(c_nsq - 2*dot(sv, c), 6)` — the
    * squared-L2 argmin with the query-side constant dropped, rounded so
    * independent engines (the DuckDB oracle replays the full trajectory)
    * agree at every tie — and runs as a `min(struct(score, cid))` hash
    * aggregate (map-side partial, no window sort; the MMR argmax lesson).
    *
    * Reference analogue: cj-zhukov/datafusion-example has no vector
    * index; this extends the ANN family the survey demands at the
    * memory-bound end. */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
              m: Int = 4, ksub: Int = 8, iters: Int = 2): DataFrame = {
    val dim = vecDim(df, vecCol, "pqTrain")
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(ksub >= 1 && ksub <= 127,
      s"ksub=$ksub must fit a tinyint code (1..127)")
    val subs = pqSubVectors(df, idCol, vecCol, m, dim / m)
    val w0 = Window.partitionBy("sub").orderBy(col("pq_id").asc)
    var cents: DataFrame = graft.plans.Checkpoints.truncated(
      subs.withColumn("rn", row_number().over(w0)).filter(col("rn") <= ksub)
        .select(col("sub"), (col("rn") - 1).cast("int").as("cid"),
          transform(col("sv"), x => round(x, 6)).as("centroid")))
    for (_ <- 1 to iters) {
      cents = graft.plans.Checkpoints.truncated(centroidMeans(
        subs.join(pqAssign(subs, cents), Seq("pq_id", "sub")),
        Seq("sub", "cid"), col("sv")))
    }
    // dense per-subspace renumber in original cid order: gaps from
    // dropped-empty clusters would otherwise break the flat-LUT indexing
    val wd = Window.partitionBy("sub").orderBy(col("cid").asc)
    cents.select(col("sub"),
      (row_number().over(wd) - 1).cast("int").as("cid"),
      col("centroid"), normSq(col("centroid")).as("c_nsq"))
  }

  /** The n x m subvector frame PQ operators share: one row per
    * (vector, subspace), `sv` = coordinates [sub*dsub, (sub+1)*dsub). */
  private def pqSubVectors(df: DataFrame, idCol: String, vecCol: String,
                           m: Int, dsub: Int): DataFrame =
    df.select(col(idCol).as("pq_id"), toDouble(col(vecCol)).as("fv"))
      .select(col("pq_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("fv"))
      .select(col("pq_id"), col("sub"),
        slice(col("fv"), col("sub") * dsub + 1, lit(dsub)).as("sv"))

  /** Nearest-centroid assignment per (vector, subspace): broadcast the
    * codebook, score every (subvector, centroid) pair, keep the argmin
    * as a map-side-combinable `min(struct(score, cid))` hash aggregate.
    * Output: (pq_id, sub, cid). */
  private def pqAssign(subs: DataFrame, codebooks: DataFrame): DataFrame = {
    val c = codebooks.select(col("sub"), col("cid"), col("centroid"),
      normSq(col("centroid")).as("pq_cnsq"))
    subs.join(broadcast(c), "sub")
      .select(col("pq_id"), col("sub"), col("cid"),
        round(col("pq_cnsq") - lit(2.0) * dot(col("sv"), col("centroid")),
          6).as("score"))
      .groupBy("pq_id", "sub")
      .agg(min(struct(col("score"), col("cid"))).as("best"))
      .select(col("pq_id"), col("sub"), col("best.cid").as("cid"))
  }

  /** PQ-encode a corpus against trained codebooks: per vector, the m
    * nearest-centroid codes (`array<tinyint>`, subspace order) plus
    * `r_nsq`, the reconstruction's squared norm — exact because the
    * subspaces partition the coordinates, so `||ĉ||² = Σ_sub ||c_sub||²`,
    * summed in subspace order (a sequential fold over the sub-sorted
    * list, not an unordered SUM, so the oracle's `list_sum(list(...
    * ORDER BY sub))` reproduces it bit-for-bit). This frame — m bytes +
    * one double per vector — IS the index artifact a 100 TB deployment
    * persists; the raw vectors are only ever read again to re-rank a
    * shortlist. Output: (idCol, codes, r_nsq). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame): DataFrame = {
    // one job reads both geometry scalars; an empty book aggregates to
    // a single row of nulls
    val geo = codebooks.agg(max(size(col("centroid"))), max(col("sub")))
      .head()
    if (geo.isNullAt(0)) throw AnalysisError(
      "pqEncode: empty codebooks, no centroid to read the subspace " +
        "dimension from")
    val dsub = geo.getInt(0)
    val m = geo.getInt(1) + 1
    val subs = pqSubVectors(df, idCol, vecCol, m, dsub)
    val withN = pqAssign(subs, codebooks)
      .join(broadcast(codebooks.select(col("sub"), col("cid"),
        col("c_nsq"))), Seq("sub", "cid"))
    withN.groupBy("pq_id")
      .agg(
        transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
          x => x.getField("cid").cast("byte")).as("codes"),
        aggregate(
          transform(array_sort(collect_list(struct(col("sub"),
            col("c_nsq").as("nn")))), x => x.getField("nn")),
          lit(0.0), (a, x) => a + x).as("r_nsq"))
      .select(col("pq_id").as(idCol), col("codes"), col("r_nsq"))
  }

  /** Widen a PROBE-side artifact scan to the session's parallelism.
    * A locally-written index artifact is one or two parquet files, and
    * a compute-dense pass whose partitioning is the scan's (the ADC
    * crossJoin — no exchange between scan and scoring) then runs in
    * one task: measured 7.0 s for the sim_topk_pq_idx probe vs 1.1 s
    * for the same ADC math on in-memory codes (which arrive through a
    * shuffle that AQE keeps at session parallelism). At 100 TB the
    * artifact arrives in thousands of splits and this is a no-op —
    * the guard keys on the actual scan partition count, not a local
    * constant. Probe paths only: append/delete/compact rewrite the
    * artifact and must not inherit a cosmetic round-robin exchange.
    *
    * Shuffle-bearing (adaptive) frames are returned UNTOUCHED, and the
    * width probe never calls `Dataset.rdd`: on an AQE plan `.rdd`
    * materializes every intermediate query stage EAGERLY at
    * query-construction time — the first cut did exactly that, and the
    * recall sweeps (which then passed in-memory pqEncode frames as
    * `prebuiltCodes`) re-executed their encode subtrees once per nProbe
    * variant, doubling sim_recall_sweep_ivfpq(_res) (1.5 -> 2.9 s
    * measured). Those frames arrive through an exchange whose width
    * AQE's parallelism-first coalescing already keeps at session width
    * — the single-task hazard is exclusive to exchange-free scan-rooted
    * plans, which are non-adaptive and safe to probe lazily. */
  private[graft] def widenScan(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    df.queryExecution.executedPlan match {
      case _: AdaptiveSparkPlanExec => df
      // the width probe below calls plan.execute(), whose prepare()
      // EAGERLY launches broadcast/subquery jobs if the tree carries
      // any (r18 advice — with AQE off or unsupported, an exchange- or
      // subquery-bearing caller frame reaches this branch): probe only
      // exchange-free, subquery-free trees — the scan-rooted shape the
      // single-task hazard is exclusive to. Anything else already
      // arrives through an exchange at session width; return it
      // untouched.
      case plan if plan.exists(p => p.isInstanceOf[Exchange] ||
          p.subqueries.nonEmpty) => df
      case plan =>
        val want = df.sparkSession.sparkContext.defaultParallelism
        if (plan.execute().getNumPartitions < want) df.repartition(want)
        else df
    }
  }

  /** ADC (asymmetric distance computation) cosine top-k over a
    * PQ-encoded corpus: each query precomputes ONE flat lookup table —
    * `lut[offset(sub) + cid] = dot(q_sub, centroid)` — and every corpus
    * row is scored with m array reads ([[graft.plans.PqAdc]], codegen'd)
    * instead of a dim-length dot: at dim=64/m=8 that is 8 lookups vs 64
    * multiply-adds against rows 64x smaller, which is what an exhaustive
    * scan costs when 100 TB of vectors have been encoded down to m bytes
    * each. The corpus side touches only (id, codes, r_nsq); queries and
    * LUTs broadcast.
    *
    * The returned `cosine` is the ADC ESTIMATE (reconstructed-centroid
    * cosine), floor-rounded to 4dp BEFORE the top-k cut with id
    * tie-break — the ADC sum is an unordered per-pair reduction in
    * neither engine's control, so ranking on the quantized value (the
    * MMR discipline) is what keeps the cut engine-portable. Exactness
    * loss vs true cosine is the PQ trade measured by the recall query.
    *
    * `shortlist > 0` adds the production re-rank: take the top
    * `shortlist` by ADC, join back the TRUE vectors for just those
    * rows, and return the exact-cosine top-k — corpus scanned in code
    * space, full vectors touched only |queries| x shortlist times.
    * `prebuiltCodes` is the materialized [[pqEncode]] artifact (build
    * once when the corpus lands, probe per query batch — the minhash
    * index split). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, codebooks: DataFrame, k: Int = 10,
             shortlist: Int = 0,
             prebuiltCodes: Option[DataFrame] = None): DataFrame = {
    val (m, dsub, offsets) = pqMeta(codebooks)
    val codes = prebuiltCodes.map(widenScan)
      .getOrElse(pqEncode(corpus, idCol, vecCol, codebooks))
      .select(col(idCol).as("neighbor_id"), col("codes"), col("r_nsq"))
    val lutFrame = pqQueryLut(queries, idCol, vecCol, codebooks,
      m, dsub, offsets)
    val scored = codes.crossJoin(broadcast(lutFrame))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        pqAdcCosine(offsets).as("cosine"))
    pqRank(scored, corpus, queries, idCol, vecCol, k, shortlist,
      Seq("query_id"))
  }

  /** IVF-PQ: the composed billion-scale index layout (FAISS's default) —
    * the coarse quantizer ([[ivfAssign]] lists) bounds WHICH code rows a
    * query touches, PQ bounds the BYTES each touched row costs. A query
    * probes `nProbe` inverted lists and ADC-scans only those candidates
    * (m LUT reads each, [[graft.plans.PqAdc]]) — at 100 TB the scan is
    * `nProbe/lists` of the corpus in `m`-byte rows, where brute is all
    * of it in float32. The lists come from [[ivfAssign]]; the codes are
    * a build-once input (`prebuiltCodes` from [[pqEncode]]); queries,
    * probes, and LUTs broadcast — the corpus side never shuffles. The
    * ADC cut ranks the floor-4dp estimate with id tie-breaks
    * (engine-portable, the [[pqTopK]] discipline);
    * `shortlist > 0` re-ranks the ADC top-`shortlist` with true vectors
    * for exact cosines. The one-level case of [[ivfPqTopKSweep]]. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, centroids: DataFrame,
                codebooks: DataFrame, k: Int = 10, nProbe: Int = 3,
                shortlist: Int = 0,
                cidCol: String = "cid", centCol: String = "centroid",
                prebuiltCodes: Option[DataFrame] = None): DataFrame =
    ivfPqTopKSweep(corpus, queries, idCol, vecCol, centroids, codebooks,
      Seq(nProbe), k, shortlist, cidCol, centCol,
      prebuiltCodes).drop("n_probe")

  /** [[ivfPqTopK]] at several nProbe levels in one pass: candidates of
    * the deepest level are ADC-scored once, carrying their list's
    * p_rank, and each level ranks its p_rank <= n_probe slice. The cut
    * ranks the ADC ESTIMATE, so unlike [[ivfTopKSweep]] recall is not a
    * lattice guarantee: a flattering estimate that enters at a deeper
    * level can displace a true neighbor. Output:
    * (n_probe, query_id, neighbor_id, cosine). */
  def ivfPqTopKSweep(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, centroids: DataFrame,
                     codebooks: DataFrame, nProbes: Seq[Int], k: Int = 10,
                     shortlist: Int = 0,
                     cidCol: String = "cid", centCol: String = "centroid",
                     prebuiltCodes: Option[DataFrame] = None): DataFrame = {
    requireLevels(nProbes)
    val (m, dsub, offsets) = pqMeta(codebooks)
    val lists = ivfAssign(corpus, idCol, vecCol, centroids, cidCol, centCol)
      .withColumnRenamed(idCol, "neighbor_id")
    val cand = ivfCandidates(ivfProbeRanks(queries, idCol, vecCol,
      centroids, cidCol, centCol, nProbes.max), lists, cidCol)
    val codes = prebuiltCodes.map(widenScan)
      .getOrElse(pqEncode(corpus, idCol, vecCol, codebooks))
      .select(col(idCol).as("neighbor_id"), col("codes"), col("r_nsq"))
    val lutFrame = pqQueryLut(queries, idCol, vecCol, codebooks,
      m, dsub, offsets)
    val scored = cand.join(codes, "neighbor_id")
      .join(broadcast(lutFrame), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("p_rank"),
        pqAdcCosine(offsets).as("cosine"))
    pqRank(sliceLevels(scored, nProbes), corpus, queries, idCol, vecCol, k,
      shortlist, Seq("n_probe", "query_id"))
  }

  /** Residual frame for residual IVF-PQ: each corpus vector's offset
    * from its assigned coarse centroid, components rounded 6dp (the
    * cross-engine trajectory discipline — centroid components are
    * already 6dp, so the subtraction is the only rounding point).
    * Residuals are what the production IVF-PQ quantizes (FAISS's
    * IndexIVFPQ): vectors in one list share their centroid's
    * neighborhood, so their offsets are smaller and more isotropic than
    * raw positions — the same m bytes spend their precision on the
    * part the coarse quantizer didn't already explain. Output:
    * (idCol, cid, rvec). */
  def ivfResiduals(corpus: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, cidCol: String = "cid",
                   centCol: String = "centroid"): DataFrame =
    corpus.join(ivfAssign(corpus, idCol, vecCol, centroids, cidCol, centCol),
        idCol)
      .join(broadcast(centroids.select(col(cidCol),
        col(centCol).as("__res_cent"))), cidCol)
      .select(col(idCol), col(cidCol),
        zip_with(toDouble(col(vecCol)), col("__res_cent"),
          (x, c) => round(x - c, 6)).as("rvec"))

  /** Residual-PQ encode: per vector, the m nearest-residual-codebook
    * codes plus `x_nsq` — the EXACT squared norm of the full
    * reconstruction `x̂ = centroid + r̂`, computed per subspace as
    * `||cent_sub + r̂_sub||²` and summed in subspace order (the
    * [[pqEncode]] ordered-fold discipline; the coarse centroid slices
    * the same way the vector does, so the subspace partition is exact).
    * Carrying the coarse `cid` per row is what lets the query path skip
    * candidate generation entirely: joining (query, probed-cid) against
    * codes ON cid IS the inverted-list probe. Output:
    * (idCol, cid, codes, x_nsq). */
  def ivfPqResidualEncode(residuals: DataFrame, idCol: String,
                          centroids: DataFrame, codebooks: DataFrame,
                          cidCol: String = "cid",
                          centCol: String = "centroid"): DataFrame = {
    // pqMeta, not ad-hoc head() probes: a codebook with a missing
    // subspace or mixed centroid lengths must throw here, not mis-slice
    // silently (r13 verdict — this path used to bypass the density and
    // uniform-dsub checks ivfPqResidualTopK gets via pqMeta)
    val (m, dsub, _) = pqMeta(codebooks)
    val subs = pqSubVectors(residuals, idCol, "rvec", m, dsub)
    val codes0 = pqAssign(subs, codebooks)
      .withColumnRenamed("cid", "code")
      .join(broadcast(codebooks.select(col("sub"),
        col("cid").as("code"), col("centroid").as("rcent"))),
        Seq("sub", "code"))
    val coarse = residuals
      .select(col(idCol).as("pq_id"), col(cidCol))
      .join(broadcast(centroids.select(col(cidCol),
        col(centCol).as("__enc_cent"))), cidCol)
    codes0.join(coarse, "pq_id")
      .withColumn("comb",
        zip_with(slice(col("__enc_cent"), col("sub") * dsub + 1, lit(dsub)),
          col("rcent"), (a, b) => a + b))
      .withColumn("xn", normSq(col("comb")))
      .groupBy("pq_id")
      .agg(
        min(col(cidCol)).as(cidCol), // constant per vector
        transform(array_sort(collect_list(struct(col("sub"), col("code")))),
          x => x.getField("code").cast("byte")).as("codes"),
        aggregate(
          transform(array_sort(collect_list(struct(col("sub"),
            col("xn").as("nn")))), x => x.getField("nn")),
          lit(0.0), (a, x) => a + x).as("x_nsq"))
      // exactly m collected codes per id, enforced in the same job — a
      // residuals frame with >1 row per id (e.g. built over a corpus
      // that lists a vector twice) fans the pq_id join out,
      // collects duplicate subspace entries, and double-counts x_nsq
      // (r13 advice); the when-guard costs nothing on the green path and
      // fails loudly instead of mis-encoding
      .withColumn("codes",
        when(size(col("codes")) === lit(m), col("codes"))
          .otherwise(raise_error(format_string(
            s"ivfPqResidualEncode: id %s collected %s codes, expected $m" +
              " — the residuals frame must have exactly one row per id" +
              " (build lists with ivfAssign)",
            col("pq_id").cast("string"),
            size(col("codes")).cast("string")))))
      .select(col("pq_id").as(idCol), col(cidCol), col("codes"),
        col("x_nsq"))
  }

  /** RESIDUAL IVF-PQ top-k — the production IVF-PQ (FAISS's
    * IndexIVFPQ): PQ codebooks are trained on the RESIDUALS to the
    * coarse centroids ([[ivfResiduals]]), so the m bytes per vector
    * quantize only the offset the inverted list hasn't already
    * explained. The ADC estimate decomposes exactly:
    * `q·x̂ = q·centroid(cid) + q·r̂` — the first term is one dot per
    * (query, probed list) (nProbe rows per query, broadcast), the
    * second the usual m LUT reads ([[graft.plans.PqAdc]]) against
    * residual codebooks; the denominator uses the stored exact
    * reconstruction norm `x_nsq`. Scale shape: identical to
    * [[ivfPqTopK]] — the corpus side touches only
    * (id, cid, codes, x_nsq) and never shuffles; queries, LUTs, and the
    * q·centroid terms broadcast — plus one structural simplification:
    * no candidate `distinct` pass, because joining the probed
    * (query, cid) frame against codes ON cid IS the inverted-list
    * probe (each neighbor has exactly one cid). Cut ranks the
    * floor-4dp estimate with id tie-breaks; `shortlist > 0` re-ranks
    * with true vectors, as in [[pqTopK]]. The one-level case of
    * [[ivfPqResidualTopKSweep]]. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String,
                        centroids: DataFrame, codebooks: DataFrame,
                        k: Int = 10, nProbe: Int = 3, shortlist: Int = 0,
                        cidCol: String = "cid",
                        centCol: String = "centroid",
                        prebuiltCodes: Option[DataFrame] = None)
      : DataFrame =
    ivfPqResidualTopKSweep(corpus, queries, idCol, vecCol, centroids,
      codebooks, Seq(nProbe), k, shortlist, cidCol, centCol,
      prebuiltCodes).drop("n_probe")

  /** [[ivfPqResidualTopK]] at several nProbe levels in one pass: the
    * (query, probed cid) frame is built once at the deepest level with
    * each list's p_rank, so every candidate is ADC-scored once and each
    * level ranks its p_rank <= n_probe slice (the [[ivfPqTopKSweep]]
    * shape; recall is measured, not a lattice guarantee). Output:
    * (n_probe, query_id, neighbor_id, cosine). */
  def ivfPqResidualTopKSweep(corpus: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String,
                             centroids: DataFrame, codebooks: DataFrame,
                             nProbes: Seq[Int], k: Int = 10,
                             shortlist: Int = 0, cidCol: String = "cid",
                             centCol: String = "centroid",
                             prebuiltCodes: Option[DataFrame] = None)
      : DataFrame = {
    requireLevels(nProbes)
    val (m, dsub, offsets) = pqMeta(codebooks)
    // NOT widened (contrast pqTopK): the residual probe is candidate-
    // bounded — it touches nProbe/lists of the codes per query, and the
    // contract probes run 8 queries — so a narrow artifact scan carries
    // trivial compute and the extra exchange only costs (measured:
    // sim_topk_ivfpq_res_inc 7.74 -> 9.69 s in-chunk with the widen).
    val codes = prebuiltCodes
      .getOrElse(ivfPqResidualEncode(
        ivfResiduals(corpus, idCol, vecCol, centroids, cidCol, centCol),
        idCol, centroids, codebooks, cidCol, centCol))
      .select(col(idCol).as("neighbor_id"), col(cidCol), col("codes"),
        col("x_nsq"))
    val qc = ivfProbeRanks(queries, idCol, vecCol, centroids, cidCol,
        centCol, nProbes.max)
      .join(broadcast(centroids.select(col(cidCol),
        col(centCol).as("__qc_cent"))), cidCol)
      .join(queries.select(col(idCol).as("query_id"),
        toDouble(col(vecCol)).as("__q_f")), "query_id")
      .select(col("query_id"), col(cidCol), col("p_rank"),
        dot(col("__q_f"), col("__qc_cent")).as("qc"))
    val lutFrame = pqQueryLut(queries, idCol, vecCol, codebooks,
      m, dsub, offsets)
    val scored = broadcast(qc).join(codes, cidCol)
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(lutFrame), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("p_rank"),
        TextAnalysis.round4(cosineFromParts(
          col("qc") + graft.plans.VectorExpressions.pqAdc(col("codes"),
            col("lut"), offsets),
          col("q_nsq"), col("x_nsq"))).as("cosine"))
    pqRank(sliceLevels(scored, nProbes), corpus, queries, idCol, vecCol, k,
      shortlist, Seq("n_probe", "query_id"))
  }

  /** A materialized PQ index read back from parquet: codebooks + encoded
    * corpus, with the build geometry recovered from stamped metadata. */
  case class PqIndex(books: DataFrame, codes: DataFrame, m: Int, dsub: Int)

  /** The flat PQ index's one mutable dir for [[ArtifactMaintenance]]:
    * `codes/`, the counted dir; the flat scan has no probe key, so
    * compaction only normalizes file sizes. `books/` never changes
    * after the write (codes encoded under it stay valid). */
  private val PqArtifact = ArtifactMaintenance.Artifact[PqIndex](
    Seq(ArtifactMaintenance.DataDir("codes", Seq("codes", "r_nsq"))),
    idx => Seq(idx.codes))

  /** Write the PQ index as two parquet dirs (`books/`, `codes/`) under
    * `path` — the build-once half of the build-once / probe-per-batch
    * split ([[graft.operators.Dedup.writeMinhashIndex]]'s contract,
    * applied to ANN): codebooks are trained and the corpus encoded when
    * it lands; every query batch probes the artifact. The geometry
    * (m, dsub) is stamped into the codes column's metadata so
    * [[readPqIndex]] reconstructs it from the artifact itself, and
    * `sourceTag` records WHICH corpus the codes came from — a probe can
    * demand the tag back so an index built from different data (stale
    * artifact, path collision, concurrent writer) fails loudly instead
    * of silently returning wrong neighbors. */
  def writePqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   codebooks: DataFrame, path: String,
                   sourceTag: String = ""): Unit = {
    val meta = pqStamps(codebooks, sourceTag).build()
    ArtifactMaintenance.freshWrite(corpus.sparkSession, path, PqArtifact) {
      codebooks.write.mode("overwrite").parquet(s"$path/books")
      pqEncode(corpus, idCol, vecCol, codebooks)
        .select(col(idCol), col("codes").as("codes", meta), col("r_nsq"))
        .write.mode("overwrite").parquet(s"$path/codes")
    }
  }

  /** Read a [[writePqIndex]] artifact back probe-ready. Geometry comes
    * from the stamped codes metadata — a path that is not a PQ index
    * fails loudly here, not as a wrong ADC sum in the probe;
    * `expectedSource` demands the provenance tag stamped at write
    * time. The returned frames plug into [[pqTopK]]/[[ivfPqTopK]] as
    * `codebooks` and `prebuiltCodes`. */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  expectedSource: Option[String] = None): PqIndex = {
    val (codes, m) = ArtifactMaintenance.readStamped(spark, path, "codes",
      "codes", Seq("pqM", "pqDsub"), "PQ-index", "writePqIndex")
    // a geometry-stamped artifact without the LUT-size stamp is a
    // pre-r13 write, not a foreign path — name the remedy (r13 advice:
    // the generic "was it written by writePqIndex?" misled here)
    require(m.contains("pqLut"),
      s"PQ index at $path predates the LUT-size stamp (pqLut): the " +
        "m/dsub-only torn check cannot catch books retrained at a " +
        "different ksub — rebuild the artifact with writePqIndex")
    ArtifactMaintenance.requireSource(m, expectedSource,
      s"PQ index at $path", "search")
    val (books, bm, bdsub) = readPqBooks(spark, path, s"PQ index at $path", m)
    PqIndex(books, codes, bm, bdsub)
  }

  /** The codes stamps both PQ writers share: geometry (m, dsub) and the
    * provenance tag. pqMeta validates density/uniform dsub up front;
    * the terminal offset (total LUT length = Σ per-subspace centroid
    * counts) is stamped too — m and dsub alone cannot tell codes
    * encoded against one ksub from books retrained at another (r12
    * advice: that pairing passed the torn-check and mis-scored). */
  private def pqStamps(codebooks: DataFrame, sourceTag: String)
      : org.apache.spark.sql.types.MetadataBuilder = {
    val (m, dsub, offsets) = pqMeta(codebooks)
    val b = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("pqM", m).putLong("pqDsub", dsub)
      .putLong("pqLut", offsets.last)
    if (sourceTag.nonEmpty) b.putString("source", sourceTag)
    b
  }

  /** `<path>/books` checked against the codes stamps `m` — shared by the
    * two PQ readers: geometry first, then the total codebook size, the
    * check that catches books RETRAINED at a different ksub under the
    * same m/dsub (those codes would index the wrong block and mis-score;
    * r12 advice). `what` names the artifact in the tear messages. */
  private def readPqBooks(spark: org.apache.spark.sql.SparkSession,
      path: String, what: String,
      m: org.apache.spark.sql.types.Metadata): (DataFrame, Int, Int) = {
    val books = spark.read.parquet(s"$path/books")
    val (bm, bdsub, boffsets) = pqMeta(books)
    require(bm == m.getLong("pqM").toInt && bdsub == m.getLong("pqDsub").toInt,
      s"$what is torn: books geometry (${bm}x$bdsub) does not match the " +
        s"codes stamp (${m.getLong("pqM")}x${m.getLong("pqDsub")})")
    require(boffsets.last.toLong == m.getLong("pqLut"),
      s"$what is torn: books total codebook size ${boffsets.last} does " +
        s"not match the codes stamp ${m.getLong("pqLut")} — the books " +
        "were retrained after these codes were encoded")
    (books, bm, bdsub)
  }

  /** Incremental append to a [[writePqIndex]] artifact — the flat-PQ
    * twin of [[appendIvfPqResidualIndex]]: the batch encodes against
    * the artifact's OWN books (every stamp verified first through
    * [[readPqIndex]] — appending under retrained books refuses before
    * writing a byte) and appends to `codes/`. Same duplicate-id guard,
    * same O(batch) cost shape ([[ArtifactMaintenance.append]]). */
  def appendPqIndex(newDocs: DataFrame, idCol: String, vecCol: String,
                    path: String,
                    expectedSource: Option[String] = None): Unit =
    ArtifactMaintenance.append(PqArtifact, path, newDocs, idCol,
        "appendPqIndex")(
        readPqIndex(newDocs.sparkSession, path, expectedSource)) { idx =>
      Seq(pqEncode(newDocs, idCol, vecCol, idx.books))
    }

  /** Delete rows from a [[writePqIndex]] artifact by id — FAISS's
    * `remove_ids` applied to the parquet-backed index (the
    * right-to-be-forgotten operation): every stamp is verified first
    * through [[readPqIndex]], then `codes/` is rewritten WITHOUT the
    * given ids and swapped in crash-safe
    * ([[ArtifactMaintenance.delete]]). Stamps are preserved verbatim;
    * the books half is untouched (codes encoded under it remain valid).
    * Ids absent from the index are a no-op, mirroring remove_ids.
    * Returns the number of code rows removed. Like FAISS's array
    * compaction the rewrite is O(index): batch deletion requests (or
    * fold them into the next [[compactPqIndex]] window) rather than
    * rewriting per id. */
  def deleteFromPqIndex(ids: DataFrame, idCol: String, path: String,
                        expectedSource: Option[String] = None): Long =
    ArtifactMaintenance.delete(PqArtifact, path, ids, idCol)(
      readPqIndex(ids.sparkSession, path, expectedSource))

  /** Compact a [[writePqIndex]] artifact's `codes/` after a run of
    * [[appendPqIndex]] drops — flat-PQ twin of
    * [[compactIvfPqResidualIndex]]. The flat scan has no probe key, so
    * the rewrite just normalizes file sizes at `targetPartitions`
    * (default: the session's shuffle parallelism); stamps preserved,
    * swap and bloom resize via [[ArtifactMaintenance.compact]]. */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String, targetPartitions: Int = 0): Unit =
    ArtifactMaintenance.compact(PqArtifact, spark, path, targetPartitions)(
      readPqIndex(spark, path))

  /** A materialized RESIDUAL IVF-PQ index read back probe-ready: the
    * coarse centroids, the residual codebooks, and the encoded corpus —
    * all three halves of the artifact, because residual codes are only
    * meaningful against the EXACT coarse set they were encoded under
    * (the q·centroid term and the residuals themselves both derive from
    * it; probing against retrained centroids mis-scores silently). */
  case class IvfPqResidualIndex(centroids: DataFrame, books: DataFrame,
                                codes: DataFrame, m: Int, dsub: Int)

  /** The residual index's one mutable dir for [[ArtifactMaintenance]]:
    * `codes/`, the counted dir, compacted by `cid` so each inverted list
    * lands contiguously. `cents/` and `books/` are immutable by
    * construction — residual codes are only meaningful against the
    * exact coarse set they were encoded under. */
  private val ResidualArtifact =
    ArtifactMaintenance.Artifact[IvfPqResidualIndex](
      Seq(ArtifactMaintenance.DataDir("codes", Seq("cid", "codes", "x_nsq"),
        _ => Seq("cid"))),
      idx => Seq(idx.codes))

  /** Fingerprint-algorithm version stamped alongside `ivfCentsFp`:
    * bump when [[centroidFingerprint]]'s byte derivation changes, so a
    * recompute-vs-stamp mismatch can tell "the artifact tore" from
    * "the algorithm moved under an intact artifact" (r14 advice — the
    * v1→v2 string-to-raw-bits switch made every pre-v2 artifact report
    * a false tear). v2 = raw IEEE-754 bits. */
  private val CentroidFpVersion = 2L

  /** Deterministic fingerprint of a coarse-centroid frame (k rows — the
    * bounded-scalar class): sha-256 over the cid-sorted (cid, centroid)
    * rows at full double precision. Stamped into the residual index's
    * codes metadata and recomputed at read, so a coarse set that was
    * retrained IN PLACE (same count, same schema, different values —
    * the tear count checks cannot see) refuses to serve. */
  private def centroidFingerprint(centroids: DataFrame, cidCol: String,
                                  centCol: String): String = {
    val rows = centroids.select(col(cidCol).cast("int"),
        toDouble(col(centCol)))
      .orderBy(col(cidCol)).collect()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    // hash the raw IEEE-754 bits, not Double.toString — the decimal
    // rendering changed to shortest-repr in JDK 19, so a string-based
    // fingerprint written and read under different JDKs could
    // spuriously report an intact index as torn (r13 advice)
    rows.foreach { r =>
      val buf = java.nio.ByteBuffer.allocate(4 + r.getSeq[Double](1).length * 8)
      buf.putInt(r.getInt(0))
      r.getSeq[Double](1).foreach(d =>
        buf.putLong(java.lang.Double.doubleToLongBits(d)))
      md.update(buf.array())
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Write the residual IVF-PQ index as three parquet dirs (`cents/`,
    * `books/`, `codes/`) under `path` — [[writePqIndex]]'s contract
    * extended to the composed index: geometry (m, dsub, total codebook
    * size), the COARSE SET's count and fingerprint, and the corpus
    * provenance tag are all stamped into the codes column metadata and
    * demanded back by [[readIvfPqResidualIndex]]. At 100 TB this
    * artifact is what persists: m bytes + one cid + one double per
    * vector, plus two tiny shared frames. */
  def writeIvfPqResidualIndex(corpus: DataFrame, idCol: String,
                              vecCol: String, centroids: DataFrame,
                              codebooks: DataFrame, path: String,
                              sourceTag: String = "",
                              cidCol: String = "cid",
                              centCol: String = "centroid"): Unit = {
    // normalize the coarse frame to (cid, centroid) at write time —
    // the artifact's on-disk names are part of its contract, so a
    // caller's custom cidCol/centCol must not leak into cents/ (read
    // recomputes the fingerprint against the canonical names; r13
    // advice: a custom-named write used to fail read-back)
    val cents = centroids.select(col(cidCol).as("cid"),
      col(centCol).as("centroid"))
    val meta = pqStamps(codebooks, sourceTag)
      .putString("ivfCentsFp", centroidFingerprint(cents, "cid", "centroid"))
      // fingerprint-ALGORITHM version (r14 advice): v2 = raw IEEE-754
      // bits. A mismatch on an artifact WITHOUT this key means the
      // algorithm changed since it was written (v1 string-rendered
      // doubles), not that the artifact tore — read distinguishes the
      // two so an intact pre-v2 index gets a rebuild/restamp message
      // instead of a false tear report.
      .putLong("ivfCentsFpV", CentroidFpVersion).build()
    ArtifactMaintenance.freshWrite(corpus.sparkSession, path,
        ResidualArtifact) {
      cents.write.mode("overwrite").parquet(s"$path/cents")
      codebooks.write.mode("overwrite").parquet(s"$path/books")
      ivfPqResidualEncode(
        ivfResiduals(corpus, idCol, vecCol, cents),
        idCol, cents, codebooks)
        .select(col(idCol), col("cid"), col("codes").as("codes", meta),
          col("x_nsq"))
        .write.mode("overwrite").parquet(s"$path/codes")
    }
  }

  /** Read a [[writeIvfPqResidualIndex]] artifact back probe-ready: every
    * stamp is demanded — geometry against the books ([[readPqIndex]]'s
    * torn checks), the coarse-set fingerprint against `cents/` (an
    * in-place retrain with identical shape refuses to serve), and the
    * corpus provenance tag. The returned halves plug into
    * [[ivfPqResidualTopK]] as `centroids`, `codebooks`, and
    * `prebuiltCodes`. */
  def readIvfPqResidualIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             expectedSource: Option[String] = None)
      : IvfPqResidualIndex = {
    val (codes, m) = ArtifactMaintenance.readStamped(spark, path, "codes",
      "codes", Seq("pqM", "pqDsub", "pqLut", "ivfCentsFp"),
      "residual-index", "writeIvfPqResidualIndex")
    val what = s"residual IVF-PQ index at $path"
    ArtifactMaintenance.requireSource(m, expectedSource, what, "search")
    val (books, bm, bdsub) = readPqBooks(spark, path, what, m)
    val cents = spark.read.parquet(s"$path/cents")
    val fp = centroidFingerprint(cents, "cid", "centroid")
    if (fp != m.getString("ivfCentsFp")) {
      // distinguish a real tear from a fingerprint-ALGORITHM change
      // over an intact artifact (r14 advice): a stamp written by an
      // older fingerprint version cannot match the current recompute
      // no matter how intact the centroids are — name that cause and
      // its remedy instead of reporting a tear
      if (!m.contains("ivfCentsFpV") ||
          m.getLong("ivfCentsFpV") != CentroidFpVersion) {
        val got = if (m.contains("ivfCentsFpV"))
          s"v${m.getLong("ivfCentsFpV")}" else "pre-versioning (v1)"
        throw new IllegalArgumentException(
          s"residual IVF-PQ index at $path was stamped with " +
            s"fingerprint algorithm $got but this reader computes " +
            s"v$CentroidFpVersion — the artifact is likely intact; " +
            "rebuild it with writeIvfPqResidualIndex (or restamp the " +
            "codes metadata) to certify it under the current algorithm")
      }
      throw new IllegalArgumentException(
        s"residual IVF-PQ index at $path is torn: the coarse centroids " +
          "do not fingerprint-match the set these codes were encoded " +
          "under — residuals and q·centroid terms would both mis-score")
    }
    IvfPqResidualIndex(cents, books, codes, bm, bdsub)
  }

  /** Incremental append to a [[writeIvfPqResidualIndex]] artifact —
    * FAISS's add-with-ids applied to the parquet-backed index, and the
    * operation that makes the artifact affordable at 100 TB: a new
    * crawl drop encodes ONLY its own rows against the index's OWN
    * cents/books (every stamp verified first through
    * [[readIvfPqResidualIndex]] — appending under retrained centroids
    * or books refuses before writing a byte) and appends to `codes/`.
    * The shared halves are immutable by construction: residual codes
    * are only meaningful against the exact coarse set they were encoded
    * under, so growing the index never rewrites existing codes — cost
    * is O(|newDocs|) encode + a duplicate check that is O(batch) on the
    * bloom fast path, never O(corpus).
    *
    * A batch sharing ids with the index is refused: a re-delivered
    * drop would otherwise surface the same neighbor twice in every
    * probe. The check is bloom-gated ([[ArtifactMaintenance.append]]):
    * a clean drop certifies "all new" against the broadcast `idbloom/`
    * sidecar without touching codes/ at all; only maybe-hits fall
    * through to a pruned id-column scan. */
  def appendIvfPqResidualIndex(newDocs: DataFrame, idCol: String,
                               vecCol: String, path: String,
                               expectedSource: Option[String] = None): Unit =
    ArtifactMaintenance.append(ResidualArtifact, path, newDocs, idCol,
        "appendIvfPqResidualIndex")(
        readIvfPqResidualIndex(newDocs.sparkSession, path,
          expectedSource)) { idx =>
      Seq(ivfPqResidualEncode(
        ivfResiduals(newDocs, idCol, vecCol, idx.centroids),
        idCol, idx.centroids, idx.books))
    }

  /** Delete rows from a [[writeIvfPqResidualIndex]] artifact by id —
    * [[deleteFromPqIndex]]'s residual twin (FAISS `remove_ids`): every
    * stamp (geometry, LUT size, coarse-centroid fingerprint,
    * provenance) is verified first through [[readIvfPqResidualIndex]],
    * then `codes/` is rewritten without the given ids via a left-anti
    * join and swapped in crash-safe. The cents/books halves are
    * untouched — surviving codes remain meaningful against the exact
    * coarse set they were encoded under. The on-disk layout of the
    * surviving rows is preserved (no repartition: the anti-join maps
    * files ~1:1, so a cid-clustered layout from
    * [[compactIvfPqResidualIndex]] survives a delete). Ids absent from
    * the index are a no-op. Returns the number of code rows removed.
    * Same 100 TB batching advice as [[deleteFromPqIndex]]. */
  def deleteFromIvfPqResidualIndex(ids: DataFrame, idCol: String,
                                   path: String,
                                   expectedSource: Option[String] = None)
      : Long =
    ArtifactMaintenance.delete(ResidualArtifact, path, ids, idCol)(
      readIvfPqResidualIndex(ids.sparkSession, path, expectedSource))

  /** Compact a [[writeIvfPqResidualIndex]] artifact's `codes/` after a
    * run of [[appendIvfPqResidualIndex]] drops — the maintenance half
    * of add-with-ids: every append lands as its own parquet files, and
    * a year of daily drops leaves thousands of small files whose
    * per-file open/footer cost dominates the probe scan long before
    * data volume does. Rewrites codes/ at `targetPartitions` (default:
    * the session's shuffle parallelism), REPARTITIONED BY `cid` so each
    * inverted list lands contiguously — the probe's cid equi-join then
    * reads the fewest row groups per probed list. Stamps are preserved
    * verbatim (the read path verified them before the rewrite); swap
    * and bloom resize via [[ArtifactMaintenance.compact]]. */
  def compactIvfPqResidualIndex(spark: org.apache.spark.sql.SparkSession,
                                path: String,
                                targetPartitions: Int = 0): Unit =
    ArtifactMaintenance.compact(ResidualArtifact, spark, path,
      targetPartitions)(readIvfPqResidualIndex(spark, path))

  /** Codebook metadata in ONE driver action (m x ksub rows — the same
    * bounded-scalar class as ZOrder's min/max row): subspace count,
    * subvector dim, and the flat-LUT offsets in FENCE-POST form (m+1
    * entries, terminal = total LUT length — [[graft.plans.PqAdc]] needs
    * the per-subspace upper bounds so an overflowing code nulls instead
    * of reading the next subspace's block; r12 advice). Validates
    * density AND that dsub is uniform across subspaces — pqSubVectors
    * slices fixed-width, so a codebook with mixed centroid lengths
    * would mis-pair coordinates silently. */
  private def pqMeta(codebooks: DataFrame): (Int, Int, Seq[Int]) = {
    val counts = codebooks.groupBy(col("sub"))
      .agg(count(lit(1)).as("n"), max(col("cid")).as("maxcid"),
        max(size(col("centroid"))).as("dsub"),
        min(size(col("centroid"))).as("mindsub"))
      .orderBy("sub").collect()
      .map(r => (r.getInt(0), r.getLong(1).toInt, r.getInt(2), r.getInt(3),
        r.getInt(4)))
    val m = counts.length
    require(counts.map(_._1).sameElements(0 until m),
      "codebooks must cover contiguous subspaces 0..m-1")
    require(counts.forall(c => c._3 == c._2 - 1),
      "codebook cids must be dense per subspace (pqTrain renumbers)")
    require(counts.forall(c => c._4 == counts.head._4 && c._5 == c._4),
      s"codebook centroid lengths must be one uniform dsub, got " +
        s"${counts.map(c => s"sub ${c._1}: [${c._5},${c._4}]").mkString(", ")}")
    (m, counts.head._4, counts.map(_._2).scanLeft(0)(_ + _).toSeq)
  }

  /** One LUT row per query — `lut[offset(sub)+cid] = dot(q_sub, c)` as a
    * flat idx-sorted array — plus the query's squared norm. */
  private def pqQueryLut(queries: DataFrame, idCol: String, vecCol: String,
                         codebooks: DataFrame, m: Int, dsub: Int,
                         offsets: Seq[Int]): DataFrame = {
    val qlut = pqSubVectors(queries, idCol, vecCol, m, dsub)
      .join(broadcast(codebooks.select(col("sub"), col("cid"),
        col("centroid"))), "sub")
      .select(col("pq_id").as("query_id"),
        (element_at(typedLit(offsets), col("sub") + 1) + col("cid"))
          .as("idx"),
        dot(col("sv"), col("centroid")).as("pv"))
      .groupBy("query_id")
      .agg(transform(array_sort(collect_list(struct(col("idx"),
        col("pv")))), x => x.getField("pv")).as("lut"))
    qlut.join(queries.select(col(idCol).as("query_id"),
      normSq(col(vecCol)).as("q_nsq")), "query_id")
  }

  /** The floor-4dp ADC cosine over (codes, lut, q_nsq, r_nsq) columns. */
  private def pqAdcCosine(offsets: Seq[Int]): Column =
    TextAnalysis.round4(cosineFromParts(
      graft.plans.VectorExpressions.pqAdc(col("codes"), col("lut"),
        offsets),
      col("q_nsq"), col("r_nsq")))

  /** Shared PQ ranking tail: ADC top-k, or ADC top-`shortlist` + exact
    * re-rank over true vectors when `shortlist > 0`, per `keys` group
    * (query_id, plus n_probe for the sweeps). */
  private def pqRank(scored: DataFrame, corpus: DataFrame,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, shortlist: Int, keys: Seq[String]): DataFrame = {
    if (shortlist <= 0) {
      topKPer(scored, keys, k)
    } else {
      require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
      val cand = topKPer(scored, keys, shortlist).drop("cosine")
      // exact re-rank: true vectors for shortlist rows only
      val cv = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec"), normSq(col(vecCol)).as("c_nsq"))
      val qv = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"), normSq(col(vecCol)).as("q_nsq"))
      val exact = cand.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
        .select((keys ++ Seq("neighbor_id")).map(col) :+
          cosineFromParts(dot(col("q_vec"), col("c_vec")),
            col("q_nsq"), col("c_nsq")).as("cosine"): _*)
      topKPer(exact, keys, k)
    }
  }

  /** Random-projection (Johnson–Lindenstrauss) dimensionality reduction:
    * out = (1/sqrt(outDim)) * R v with a deterministic md5-derived
    * uniform[-1,1] matrix R — the standard cheap 4096-d -> 64-d squeeze
    * before ANN indexing (pairwise distances preserved within
    * ~sqrt(ln n / outDim) relative error, per the JL lemma; uniform
    * entries are a valid sub-gaussian family).
    *
    * Entirely narrow (one scan, no shuffle); the matrix is ONE constant
    * double[] inside a compact codegen'd loop
    * ([[graft.plans.VectorProject]]) — not outDim separate dot
    * expressions, which would blow the whole-stage method past the JIT
    * threshold (the VectorSignBuckets lesson). md5 derivation makes the
    * output engine-replicable: the DuckDB oracle rebuilds R from the same
    * salt and matches values bit-for-bit (after the floor-round rule).
    * Output adds `projCol` (array<double>, length outDim). */
  def randomProject(df: DataFrame, vecCol: String, outDim: Int,
                    projCol: String = "projection",
                    salt: String = "rp:",
                    scale: Option[Double] = None): DataFrame = {
    val planes = Dedup.md5Planes(1, outDim,
      vecDim(df, vecCol, "randomProject"), salt).head
    val s = scale.getOrElse(1.0 / math.sqrt(outDim.toDouble))
    df.withColumn(projCol,
      graft.plans.VectorExpressions.vectorProject(col(vecCol), planes, s))
  }

  /** Vector length read from the first row — projection and PQ need the
    * input dim to size their constants, and an empty input has none. */
  private def vecDim(df: DataFrame, vecCol: String, op: String): Int =
    firstRow(df.select(size(col(vecCol))),
      s"$op: empty input, no row to read the `$vecCol` dimension from")
      .getInt(0)

  /** The first row of `df` (the one job `head()` would run), or an
    * [[AnalysisError]] naming the empty input. */
  private def firstRow(df: DataFrame, emptyMsg: => String): Row =
    df.head(1).headOption.getOrElse(throw AnalysisError(emptyMsg))

  /** Label centroids: average embedding per label — a representative
    * "analytics over vectors" op (group agg over array columns, no UDF).
    *
    * Shape: posexplode -> aggregate on (label, pos) -> re-assemble the
    * vector ordered by pos. The earlier formulation built `dim` separate
    * `sum(element_at(...))` aggregate columns, which means `dim` slots of
    * hash-agg state per group — fine at dim=64, pathological at dim=4096.
    * Here agg state is one sum per (label, pos) key with map-side partials,
    * so the op scales in `dim` the same way it scales in row count. The
    * `dim` parameter is gone: the vector length is read from the data. */
  def labelCentroids(df: DataFrame, labelCol: String,
                     vecCol: String): DataFrame = {
    val sums = df.select(col(labelCol), posexplode(toDouble(col(vecCol))))
      .groupBy(col(labelCol), col("pos")).agg(sum(col("col")).as("s"))
    // array_sort on array<struct<pos,s>> orders by pos (first field) —
    // re-assembling each centroid in component order
    val vecs = sums.groupBy(col(labelCol)).agg(
      transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("sum_vec"))
    val counts = df.groupBy(col(labelCol)).agg(count(lit(1)).as("n"))
    vecs.join(counts, labelCol)
      .select(col(labelCol),
        transform(col("sum_vec"), x => x / col("n")).as("centroid"), col("n"))
  }
}
