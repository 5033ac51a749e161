package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosineFromParts, dot, normSq}
import graft.operators.{Bpe, Similarity}

/** Deterministic data generators and measurement helpers for the
  * crossover specs (`*RigSpec`) and the operator specs that read the
  * same data: synthetic corpora, edge sets, timelines and dicts at sizes
  * the contract tables can't reach, plus the measurements (k-means
  * inertia, shuffle-exchange presence, parquet row-group stanzas) those
  * specs assert on. Every generator is fully replayable: same arguments,
  * same rows, any session. */
object Rigs {

  /** Deterministic synthetic clustered embedding corpus — the scale rig
    * for demonstrating the LSH-vs-brute crossover the
    * [[graft.operators.Similarity.lshTopK]] cost model predicts (it
    * needs a corpus far larger than the sf0.1 embeddings table, and
    * near neighbors with high per-hyperplane agreement).
    *
    * vec_id i gets `center(i % clusters) + noiseScale * noise(i)`, every
    * component an md5-derived uniform[-1,1] double — fully replayable
    * across runs, sessions, and engines (no rand()). With the defaults
    * (dim 64, noiseScale 0.25) same-cluster cosine lands around 0.94, so
    * a vector's true top-k are its cluster-mates and hyperplane-LSH
    * recall is high — the regime planted-near-duplicate corpora live in.
    *
    * Entirely narrow (spark.range -> projection, no shuffle); generation
    * is O(n x dim) md5 calls, a one-time setup cost callers typically
    * hide behind `localCheckpoint()` before timing anything. Output:
    * (vec_id long, embedding array<double>). */
  def syntheticClusteredCorpus(spark: org.apache.spark.sql.SparkSession,
                               n: Long, dim: Int = 64, clusters: Int = 500,
                               noiseScale: Double = 0.25,
                               salt: String = "syn:"): DataFrame = {
    // md5-prefix -> uniform[-1,1]: same portable derivation rule the LSH
    // planes and the JL matrix use (conv of the first 8 hex chars)
    def u(tag: String, key: Column, j: Int): Column =
      conv(substring(md5(concat(lit(salt + tag + ":"), key.cast("string"),
        lit(":" + j)).cast("binary")), 1, 8), 16, 10).cast("double") /
        lit(2147483647.5) - 1.0
    val cid = col("id") % clusters
    val comps = (0 until dim).map(j =>
      u("c", cid, j) + lit(noiseScale) * u("n", col("id"), j))
    spark.range(n).select(col("id").as("vec_id"),
      array(comps: _*).as("embedding"))
  }

  /** Clustering quality: sum over vectors of (1 - cosine to the assigned
    * centroid). The scalar the kmeans quality specs assert on — lower is
    * tighter; a correct k-means run never increases it across
    * iterations. One assignment pass + one aggregate. */
  def kmeansInertia(df: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame): Double = {
    val assigned = Similarity.ivfAssign(df, idCol, vecCol, cents)
    df.join(assigned, idCol).join(broadcast(cents), "cid")
      .select((lit(1.0) - cosineFromParts(
        dot(col(vecCol), col("centroid")),
        normSq(col(vecCol)), normSq(col("centroid")))).as("d"))
      .agg(sum(col("d"))).head().getDouble(0)
  }

  /** Deterministic synthetic per-key timeline rig for the as-of
    * crossover bench: `users` keys, each with ~`viewsPerUser`
    * right-side rows (unique per (user_id, ts) by construction — the
    * operator's contract) and `purchasesPerUser` left-side rows,
    * timestamps xxhash64-scattered over a fixed horizon. Returns
    * (purchases(purchase_id, user_id, ts), views(user_id, ts, v)).
    * This is the dense-history regime where the naive
    * join-then-argmax expansion materializes O(|left| x |right per
    * key|) pair rows while the union+window form shuffles each row
    * once — the crossover JoinRigSpec counts. */
  def syntheticTimeline(spark: org.apache.spark.sql.SparkSession,
                        users: Int, viewsPerUser: Int,
                        purchasesPerUser: Int): (DataFrame, DataFrame) = {
    val horizon = 1000000000L
    val views = spark.range(users.toLong * viewsPerUser)
      .select((col("id") % users).as("user_id"),
        pmod(xxhash64(lit("v"), col("id")), lit(horizon)).as("ts"),
        (col("id") % 997).cast("double").as("v"))
      .groupBy("user_id", "ts").agg(max("v").as("v"))
    val purchases = spark.range(users.toLong * purchasesPerUser)
      .select(col("id").as("purchase_id"),
        (col("id") % users).as("user_id"),
        pmod(xxhash64(lit("p"), col("id")), lit(horizon)).as("ts"))
    (purchases, views)
  }

  /** Deterministic synthetic word-frequency dict — the scale rig behind
    * the [[graft.operators.Bpe.autoDictGate]] measurement (BpeRigSpec's
    * heap check). Words are 3-4 syllables drawn from a hash-derived consonant-vowel
    * pool, so character pairs share structure the way a natural-language
    * dict's do (heavy-tailed pair counts — the regime that stresses the
    * trainer's occurrence index; independent uniform letters would be
    * unrealistically merge-free). Entirely narrow generation
    * (spark.range -> md5 projections) plus ONE groupBy to fold hash
    * collisions deterministically. Output: (ws symbol string, cnt),
    * ~0.999 · n distinct rows at the 1024-syllable default. */
  def syntheticDict(spark: SparkSession, n: Long, syllables: Int = 1024,
                    salt: String = "bpedict:"): DataFrame = {
    val cons = "bcdfghjklmnpqrstvwz"
    val vow = "aeiou"
    val pool: Seq[String] = (0 until syllables).map { i =>
      val h = i * 2654435761L
      "" + cons(((h >>> 3) % cons.length).toInt) +
        vow(((h >>> 11) % vow.length).toInt) +
        (if ((h & 1) == 0L) "" + cons(((h >>> 17) % cons.length).toInt)
         else "")
    }
    val poolLit = typedLit(pool)
    def idx(j: Int): Column =
      (conv(substring(md5(concat(lit(s"$salt$j:"),
        col("id").cast("string"))), 1, 8), 16, 10).cast("long")
        % syllables + 1).cast("int")
    val parts = col("id") % 2 + 3 // 3..4 syllables
    val word = concat((0 until 4).map(j =>
      when(lit(j) < parts, element_at(poolLit, idx(j)))
        .otherwise(lit(""))): _*)
    val cnt = conv(substring(md5(concat(lit(s"${salt}c:"),
      col("id").cast("string"))), 1, 8), 16, 10).cast("long") % 100 + 1
    spark.range(n).select(word.as("w"), cnt.as("cnt"))
      .groupBy("w").agg(sum("cnt").as("cnt"))
      .select(Bpe.symbolize(col("w")).as("ws"), col("cnt"))
  }

  /** The odd multiplier of the rigs' id-scattering bijection
    * `i -> i * m mod n`: first odd candidate >= 1e6 coprime with n — a
    * fixed, reproducible rule shared by every synthetic rig so their id
    * layouts stay comparable. Bounded by m * n < 2^63 (n < ~9·10^12). */
  private def permMultiplier(nNodes: Long): Long = {
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    Iterator.iterate(1000003L)(_ + 2).find(c => gcd(c, nNodes) == 1).get
  }

  /** Deterministic synthetic edge set with planted worst-case components —
    * the scale rig for measuring the adaptive-CC crossover (driver
    * union-find below [[graft.operators.Dedup.DefaultSmallGraphThreshold]]
    * vs distributed star contraction above it) at edge counts the sf0.1
    * contract data can't reach (~500 pairs there).
    *
    * Structure: the contiguous id block [c*size, (c+1)*size) forms
    * component c as a CHAIN — edges link consecutive block members — so
    * every component is a worst-case path of diameter `componentSize - 1`
    * (dense dup cliques converge in 1 round; chains are what the
    * star-contraction log-round bound actually has to earn). Node ids are
    * scattered through [0, nNodes) by an odd-multiplier bijection
    * (`i * m % n` with gcd(m, n) = 1) so neither execution path sees
    * artificially presorted, block-contiguous input. Fully deterministic:
    * same (nNodes, componentSize) → identical edges, any session.
    *
    * Entirely narrow (spark.range → project/filter, no shuffle);
    * generation is setup, not signal — bench callers `localCheckpoint()`
    * before timing. nNodes is bounded by m * n < 2^63 (n < ~9·10^12 at
    * the default multiplier) — far above any bench size.
    * Output: (id_a long, id_b long), nNodes - ceil(nNodes/size) edges. */
  def syntheticComponentEdges(spark: org.apache.spark.sql.SparkSession,
                              nNodes: Long,
                              componentSize: Int): DataFrame = {
    require(componentSize >= 2, "componentSize must be at least 2")
    require(nNodes >= componentSize, "need at least one full component")
    val m = permMultiplier(nNodes)
    def perm(c: Column): Column = pmod(c * m, lit(nNodes))
    spark.range(nNodes - 1)
      .filter((col("id") + 1) % componentSize =!= 0)
      .select(perm(col("id")).as("id_a"), perm(col("id") + 1).as("id_b"))
  }

  /** Deterministic synthetic edge set with ONE giant star-heavy
    * component — the skew rig for star contraction's documented hot
    * spot: a huge component's minimum accumulates degree ~ component
    * size as the rounds re-point edges at it, concentrating one join
    * key's rows on one reducer (see the AQE note in
    * [[graft.operators.Dedup.connectedComponentsFromEdges]]).
    *
    * Structure: `starFrac` of the node space forms a single
    * hub-and-spoke star. The hub is the permuted image of the MIDDLE
    * star index — not index 0, whose image is always node 0 (the global
    * minimum): a star already centered on its component min is the
    * contraction's fixpoint and would exercise nothing. With a
    * mid-index hub the min is almost surely some spoke, so the rounds
    * must re-point every spoke edge across the skewed key. The rest of
    * the node space forms worst-case chains of `componentSize`, exactly
    * as [[syntheticComponentEdges]] — so a uniform-chain graph of the
    * same edge count is the natural control.
    *
    * Entirely narrow (spark.range → project/filter, no shuffle); bench
    * callers `localCheckpoint()` before timing. Output: (id_a, id_b),
    * `nStar - 1` star edges + the chain edges over the remainder. */
  def syntheticSkewedEdges(spark: org.apache.spark.sql.SparkSession,
                           nNodes: Long, starFrac: Double = 0.8,
                           componentSize: Int = 41): DataFrame = {
    require(starFrac > 0.0 && starFrac < 1.0, "starFrac must be in (0,1)")
    require(componentSize >= 2, "componentSize must be at least 2")
    val nStar = (nNodes * starFrac).toLong
    require(nStar >= 2 && nNodes - nStar >= componentSize,
      "need a non-trivial star AND at least one full chain")
    val m = permMultiplier(nNodes)
    def perm(c: Column): Column = pmod(c * m, lit(nNodes))
    val hubIdx = nStar / 2
    val hubId = java.lang.Math.floorMod(hubIdx * m, nNodes)
    val star = spark.range(nStar).filter(col("id") =!= hubIdx)
      .select(lit(hubId).as("id_a"), perm(col("id")).as("id_b"))
    val chains = spark.range(nStar, nNodes - 1)
      .filter((col("id") - nStar + 1) % componentSize =!= 0)
      .select(perm(col("id")).as("id_a"), perm(col("id") + 1).as("id_b"))
    star.union(chains)
  }

  /** Deterministic synthetic near-duplicate text corpus — the scale rig
    * for measuring the minhash-banded-LSH vs inverted-index-exact-Jaccard
    * dedup crossover on a corpus far larger than sf0.1's 500 docs.
    *
    * Docs come in families of `familySize` (family f = doc_id /
    * familySize); every family member is the family's base token sequence
    * (docLen tokens, token (f, j) an md5-derived 7-hex-char word — ~10^8
    * vocabulary, so cross-family shingle collisions are negligible) with
    * each position independently replaced by a doc-unique mutation token
    * with probability `mutationRate` (an md5 coin on (doc, j) — fully
    * replayable). With the defaults (docLen 60, rate 0.01) same-family
    * 3-gram Jaccard lands around 0.85-0.9, the near-dup regime, and the
    * doc-frequency of every surviving base shingle ≈ familySize.
    *
    * `boilerplateFrac` > 0 additionally prepends a SHARED token block
    * (`boilerplateLen` tokens, identical across the whole corpus) to
    * that fraction of docs (md5 coin on the doc id) — modelling the
    * template headers/footers of a web crawl. Boilerplate shingles have
    * doc-frequency ≈ frac·nDocs while connecting docs that are NOT
    * near-dups (the block is far too short to push cross-family Jaccard
    * over any sane threshold): exactly the skew that makes the exact
    * inverted-index pair join pay O(df²) rows for pairs it will throw
    * away, the regime where banded minhash (signatures absorb common
    * shingles; buckets only collide for truly similar docs) and the
    * stop-shingle `maxDocFreq` prune earn their keep.
    *
    * Entirely narrow (spark.range → transform over a sequence, md5
    * builtins only, no shuffle, no UDF); generation is setup — bench
    * callers `localCheckpoint()` before timing.
    * Output: (doc_id long, text string). */
  def syntheticNearDupCorpus(spark: org.apache.spark.sql.SparkSession,
                             nDocs: Long, familySize: Int = 20,
                             docLen: Int = 60,
                             mutationRate: Double = 0.01,
                             boilerplateFrac: Double = 0.0,
                             boilerplateLen: Int = 13,
                             salt: String = "nd:"): DataFrame = {
    require(familySize >= 2 && docLen >= 1)
    val fam = floor(col("id") / familySize).cast("long")
    // md5-prefix coin in [0,1): same conv-of-8-hex-chars derivation rule
    // as the LSH planes / clustered-corpus rig — engine-portable
    def coin(j: Column): Column =
      conv(substring(md5(concat(lit(salt + "c:"), col("id").cast("string"),
        lit(":"), j.cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("double") / 4294967296.0
    def baseTok(j: Column): Column =
      substring(md5(concat(lit(salt + "w:"), fam.cast("string"), lit(":"),
        j.cast("string")).cast("binary")), 1, 7)
    def mutTok(j: Column): Column =
      substring(md5(concat(lit(salt + "m:"), col("id").cast("string"),
        lit(":"), j.cast("string")).cast("binary")), 1, 7)
    val body = array_join(transform(sequence(lit(0), lit(docLen - 1)), j =>
      when(coin(j) < mutationRate, mutTok(j)).otherwise(baseTok(j))), " ")
    val withBp =
      if (boilerplateFrac <= 0.0) body
      else {
        // the block is corpus-wide constant: derive it driver-side with
        // the same md5-prefix rule and splice it in as one literal
        val md = java.security.MessageDigest.getInstance("MD5")
        val bpText = Seq.tabulate(boilerplateLen) { j =>
          md.digest(s"${salt}b:$j".getBytes("UTF-8"))
            .take(4).map(b => f"$b%02x").mkString.take(7)
        }.mkString(" ")
        val bpCoin =
          conv(substring(md5(concat(lit(salt + "bc:"),
            col("id").cast("string")).cast("binary")), 1, 8), 16, 10)
            .cast("double") / 4294967296.0
        when(bpCoin < boilerplateFrac,
          concat(lit(bpText + " "), body)).otherwise(body)
      }
    spark.range(nDocs).select(col("id").as("doc_id"), withBp.as("text"))
  }

  /** Driver-side mirror of [[graft.operators.TextAnalysis.round4]]
    * (spec expectations). */
  def round4Value(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000

  /** True when the physical plan contains a shuffle exchange — the
    * assertion hook for bucketed-join tests. */
  def hasShuffleExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /** Parquet ROW-GROUP statistics as a queryable frame — the layout
    * audit that checks whether a table will actually prune.
    * `Sinks.writeClustered` / [[graft.operators.ZOrder]] exist to make
    * row-group min/max stanzas selective; this reads those stanzas back
    * (footers only — metadata IO, no row decode) so "is this table
    * well-clustered on k?" is a query, not a guess.
    *
    * Footer reads are distributed: the file list (bounded driver
    * metadata, same scale as any planner's split listing) fans out via
    * `mapPartitions`, each task opening only footers. Executors use a
    * fresh default Hadoop `Configuration` — correct for posix/HDFS
    * defaults; an object-store deployment passes its keys via
    * `confKeys`.
    *
    * One row per (file, row group): row count and the column's min/max
    * stanza (integral columns — int32/int64 — surfaced as longs; a
    * missing/untyped stanza yields nulls, never a throw). */
  def rowGroupStats(spark: SparkSession, path: String, column: String,
                    confKeys: Map[String, String] = Map.empty)
      : DataFrame = {
    import spark.implicits._
    val files = spark.read.parquet(path).inputFiles.toIndexedSeq
    require(files.nonEmpty, s"no parquet files under $path")
    spark.createDataset(files)
      .repartition(math.min(files.size, 64))
      .mapPartitions { paths =>
        val conf = new org.apache.hadoop.conf.Configuration()
        confKeys.foreach { case (k, v) => conf.set(k, v) }
        paths.flatMap { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = reader.getFooter.getBlocks.asScala.toList
            blocks.zipWithIndex.map { case (b, i) =>
              val st = b.getColumns.asScala
                .find(_.getPath.toDotString == column)
                .map(_.getStatistics)
              def asLong(v: Any): Option[Long] = v match {
                case l: java.lang.Long => Some(l.longValue())
                case n: java.lang.Integer => Some(n.longValue())
                case _ => None
              }
              (p, i, b.getRowCount,
                st.filter(s => !s.isEmpty && s.hasNonNullValue)
                  .flatMap(s => asLong(s.genericGetMin())),
                st.filter(s => !s.isEmpty && s.hasNonNullValue)
                  .flatMap(s => asLong(s.genericGetMax())))
            }
          } finally reader.close()
        }
      }
      .toDF("file", "row_group", "rows", "min", "max")
  }

  /** Fraction of row groups whose [min, max] range overlaps ANY earlier
    * group's range in (min, id) order — 0.0 for perfectly disjoint
    * (clustered) stanzas, approaching 1.0 when every stanza spans the
    * key space (arrival-order writes of uniform keys). Computed as a
    * sort + running-max sweep, never the n² pair join; the input is
    * METADATA-sized (one row per row group, ~10^5-10^6 at 100 TB), so
    * the global window is bounded by construction — the one place a
    * global window is the right tool. Groups without stanzas count as
    * overlapping — a stats-less layout prunes nothing, and the metric
    * must say so. */
  def overlapFraction(stats: DataFrame): Double = {
    // empty stats = nothing to prune with — same defined answer as
    // meanStanzaCoverage, not an NPE from a null aggregate
    if (stats.isEmpty) return 1.0
    val w = Window.orderBy(col("min").asc_nulls_last, col("file"),
        col("row_group"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val row = stats
      .withColumn("prev_max", max(col("max")).over(w))
      .withColumn("olap",
        when(col("min").isNull || col("max").isNull, 1)
          .when(col("prev_max").isNotNull &&
            col("min") <= col("prev_max"), 1)
          .otherwise(0))
      .agg((sum(col("olap")) / count(lit(1))).as("f")).head()
    row.getDouble(0)
  }

  /** Mean fractional key-span of the stanzas: avg((max-min+1) /
    * global span). 1.0 = every group spans the whole key space (prunes
    * nothing); small = tight boxes. The 2-D complement of
    * [[overlapFraction]]: a z-ordered copy REVISITS each dimension's
    * ranges (overlap stays high by design) but keeps every box NARROW,
    * and width is what bounds the decode for a range predicate.
    * Stats-less groups count as full-width. */
  def meanStanzaCoverage(stats: DataFrame): Double = {
    val g = stats.agg(min(col("min")), max(col("max"))).head()
    if (g.isNullAt(0) || g.isNullAt(1)) return 1.0
    val span = (g.getLong(1) - g.getLong(0) + 1).toDouble
    stats.agg((avg(when(col("min").isNull || col("max").isNull, lit(span))
        .otherwise(col("max") - col("min") + 1L)) / span).as("c"))
      .head().getDouble(0)
  }
}
