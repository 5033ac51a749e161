package graft.queries

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Curate, Dedup, LanguageModel, Multimodal, Prep, Search, Similarity, Sketches, TextAnalysis}
import graft.sources.Tables

/** Training-data-pipeline operators (dedup / similarity / text analysis /
  * multimodal) as named queries over `documents` and `embeddings`, with
  * DuckDB oracles wherever the semantics are SQL-expressible.
  *
  * The LSH family (minhash/simhash/hyperplane buckets) hashes with md5:
  * hashes and hyperplanes derive from md5 hex prefixes, which DuckDB
  * replicates bit-for-bit, so even the "approximate" operators get full
  * rows+schema+hash verification (the oracle SQL below is generated with
  * the same constants).
  */
object Pipeline {
  private type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** The doc_id split point `(max(doc_id) + 1) * num / den`, one
    * parquet-footer max() scalar. A zero-row table has no max: its cut
    * is 0, and both sides of the split are empty. */
  private def docIdCut(d: DataFrame, num: Int, den: Int): Long =
    d.agg(coalesce(max(col("doc_id")) + 1, lit(0L))).head().getLong(0) *
      num / den

  /** Corpus-side split for compute-dense ANN scans: local test parquet is
    * one unsplittable file, so without this the n x |q| cosine work runs
    * in a single task. Explicit numPartitions ⇒ AQE does not coalesce.
    * Width follows the session's `defaultParallelism` (Spark's own
    * `spark.default.parallelism` sets it) so a 1,000-core cluster is not
    * capped at the local rig's 32 tasks; local[32] still resolves to
    * 32. */
  private[graft] def lshCorpusParts(s: SparkSession): Int =
    s.sparkContext.defaultParallelism
  private def corpusPar(e: DataFrame): DataFrame =
    e.repartition(lshCorpusParts(e.sparkSession), col("vec_id"))

  /** PQ contract hyperparameters, shared by the Spark queries and the
    * generated DuckDB oracle: 4 subspaces x 8 centroids x 2 k-means
    * iterations over the dim-64 embeddings — coarse on purpose (the
    * oracle unrolls every iteration; the compression/recall trade is
    * the thing the contract rows measure). */
  private val PqM = 4
  private val PqKsub = 8
  private val PqIters = 2
  private val PqShortlist = 50

  /** Scratch path for a per-process materialized artifact keyed by a
    * data directory. Two safety properties (round-9 advice):
    *  - the key is the FULL sanitized dir path, not its 32-bit hashCode
    *    — two data dirs can never collide onto one artifact;
    *  - the pid suffix makes the path per-PROCESS unique, so a Verify
    *    run and a benchmark process (or two of them) on the same sfDir
    *    can never interleave one's writes with the other's reads.
    * Within one JVM the [[once]] memo below still serializes
    * write-once/read-many. `pid` is injectable for the spec that pins
    * the uniqueness properties. */
  private[graft] def scratchPath(prefix: String, dir: String,
      pid: Long = ProcessHandle.current().pid()): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"${prefix}_${tag}_p$pid").toString
  }

  /** Write-once-per-JVM memo: the first call for `key` in this process
    * runs `body` and keeps its value in `memo`, every later call returns
    * that value. The memo's lock serializes its bodies (each runs once;
    * a body that throws is retried by the next call). */
  private def once[T](memo: mutable.Map[String, T], key: String)
                     (body: => T): T =
    memo.synchronized(memo.getOrElseUpdate(key, body))

  /** Materialized artifacts, keyed by their [[scratchPath]]: the first
    * execution writes (overwrite — a stale on-disk artifact from an
    * earlier process or testdata generation is never trusted), every
    * execution reads the files back. A repeated timing therefore sees
    * the steady-state read, with the one-time write absorbed by the
    * first run. */
  private val written = mutable.HashMap.empty[String, Unit]

  /** Small trained models kept on the driver per corpus dir: trained
    * once, the way a deployment trains when the corpus lands and every
    * later job ships the result. `trained` keys carry the model kind
    * before the dir. */
  private val bpeMerges =
    mutable.HashMap.empty[String, Seq[(String, String)]]
  private val trained =
    mutable.HashMap.empty[String, (Array[Row], StructType)]

  /** A trained frame collected once per JVM under `key` ([[once]]; a few
    * KB) and rebuilt on the CALLING session — session-independent, so
    * the layout-invariance spec's sibling session trains nothing and
    * mixes no cross-session plans. */
  private def collectedOnce(s: SparkSession, key: String)
                           (train: => DataFrame): DataFrame = {
    val (rows, schema) =
      once(trained, key) { val b = train; (b.collect(), b.schema) }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The 8-step BPE merge table of a corpus dir, trained once: the
    * encode-side contract queries measure ENCODING, with training
    * absorbed by the first (untimed-warmup) execution. txt_bpe itself
    * always trains live — the trajectory computation IS that query's
    * subject. Demands exactly 8 merges so a regenerated corpus too
    * small to train on fails LOUDLY (n_err) instead of silently
    * red-hashing against the oracle's unconditional 8-CTE unroll. */
  private def trainedMerges(s: SparkSession, dir: String)
      : Seq[(String, String)] =
    once(bpeMerges, dir) {
      val m = Bpe.train(docs(s, dir), "text", nMerges = 8)
        .orderBy("step").collect()
        .map(r => (r.getAs[String]("lft"), r.getAs[String]("rgt")))
        .toIndexedSeq
      require(m.size == 8,
        s"bpe training exhausted after ${m.size} of 8 merges on $dir — " +
          "the encode oracles unroll 8 iterations unconditionally")
      m
    }

  /** The trained PQ codebooks of a corpus dir: the `sim_*_pq` rows
    * measure the ENCODE+ADC query path, with the m per-subspace k-means
    * absorbed by the first (untimed-warmup) execution. */
  private def pqBooks(s: SparkSession, dir: String): DataFrame =
    collectedOnce(s, s"pq_books $dir")(Similarity.pqTrain(embs(s, dir),
      "vec_id", "embedding", m = PqM, ksub = PqKsub, iters = PqIters))

  /** RESIDUAL PQ codebooks ([[pqBooks]]'s discipline, FAISS-IVFPQ
    * geometry): trained on each vector's 6dp-rounded offset from its
    * assigned coarse centroid — the part of the position the inverted
    * list hasn't already explained. */
  private def resBooks(s: SparkSession, dir: String): DataFrame =
    collectedOnce(s, s"res_books $dir") {
      val e = embs(s, dir)
      Similarity.pqTrain(
        Similarity.ivfResiduals(e, "vec_id", "embedding", ivfCentroids(e)),
        "vec_id", "rvec", m = PqM, ksub = PqKsub, iters = PqIters)
    }

  /** The STEADY-STATE corpus minhash index `dd_incremental` probes,
    * written once per JVM ([[once]]); `dd_incremental_idx` stays the
    * full write+read+probe round-trip certification; the DuckDB oracle
    * replays its md5-derived signatures bit-for-bit. The probe demands
    * the source-dir provenance tag stamped at write time — even if a
    * path were somehow shared, an index built from different data
    * refuses to serve. */
  private def steadyMinhashIndex(s: SparkSession, dir: String,
                                 corpus: DataFrame): Dedup.MinhashIndex = {
    val path = scratchPath("graft_mh_steady", dir)
    once(written, path)(Dedup.writeMinhashIndex(corpus, "doc_id", "text",
      path, sourceTag = dir))
    Dedup.readMinhashIndex(s, path, expectedSource = Some(dir))
  }

  /** The JSONL twin of the documents table, written once per JVM
    * ([[once]]) through [[graft.sinks.Sinks.writeJsonl]]; `ds_jsonl`
    * reads it back with the EXPLICIT parquet-derived schema and
    * aggregates — matching the oracle computed from the parquet table
    * certifies the whole JSONL round trip (escaping, types, line
    * splitting). */
  private def jsonlDocs(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("graft_jsonl", dir)
    val d = docs(s, dir)
    once(written, path)(graft.sinks.Sinks.writeJsonl(d, path))
    Tables.jsonl(s, path, d.schema)
  }

  /** The schema-evolution twin of the documents table, written once per
    * JVM ([[once]]): the even-id half in a "v1" schema (doc_id, text,
    * lang — the columns an early crawl generation had), the odd-id half
    * in today's full "v2" schema, as two parquet generations under one
    * scratch root. A single `mergeSchema` read then reconciles both
    * generations in one scan — the shape a years-old 100 TB corpus
    * actually has, where rewriting earlier generations to the newest
    * schema would cost a full-corpus pass. v1 rows must surface NULL for
    * the columns their files never carried; `ds_evolve` aggregates over
    * exactly that boundary and its oracle rebuilds the merged view from
    * the parquet table, so a match certifies Spark's on-disk schema
    * reconciliation (by-name column alignment + null back-fill), not
    * just the arithmetic. */
  private def evolveDocs(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("graft_evolve", dir)
    val d = docs(s, dir)
    once(written, path) {
      d.filter(col("doc_id") % 2 === 0).select("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$path/v1")
      d.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$path/v2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
  }

  /** IVF coarse quantizer for the sim_topk_ivf/sim_recall_ivf queries:
    * label centroids with components rounded to 6dp, so Spark and the
    * DuckDB oracle quantize from bit-identical centroid values (raw means
    * differ in last-ulp from aggregation order; round(6) reconciles —
    * same policy sim_centroids uses). */
  private def ivfCentroids(e: DataFrame): DataFrame =
    Similarity.labelCentroids(e, "label", "embedding")
      .select(col("label").as("cid"),
        transform(col("centroid"), x => round(x, 6)).as("centroid"))

  /** The nProbe levels every recall sweep reports. */
  private val SweepLevels = Seq(1, 2, 4)

  /** Recall@k per probe level: the exact top-k (computed once) crossed
    * with [[SweepLevels]] and left-joined to a sweep's
    * (n_probe, query_id, neighbor_id) rows, grouped by n_probe as the
    * oracle groups — so an empty corpus yields no rows, not one
    * zero-count row per level. */
  private def sweepRecall(brute: DataFrame, sweep: DataFrame): DataFrame =
    brute.select(col("query_id"), col("neighbor_id"),
        explode(typedLit(SweepLevels)).as("n_probe"))
      .join(sweep.select(col("n_probe"), col("query_id"),
          col("neighbor_id"), lit(1L).as("hit")),
        Seq("n_probe", "query_id", "neighbor_id"), "left")
      .groupBy("n_probe")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("n_probe").cast("long").as("n_probe"), col("k"),
        col("n_hit"),
        round(col("n_hit").cast("double") / col("k"), 4).as("recall"))
      .orderBy("n_probe")

  /** Recall@k of `found` against the exact top-k `brute`, both
    * (query_id, neighbor_id, ...) frames, grouped by `key` and reported
    * as `keyName` — the same grouping the oracle's [[recallSql]] uses. */
  private def recallBy(brute: DataFrame, found: DataFrame, key: Column,
                       keyName: String): DataFrame =
    brute.select(col("query_id"), col("neighbor_id"))
      .join(found.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(key.as(keyName))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("k"), 4))
      .orderBy(keyName)

  /** The residual IVF-PQ artifact at `path` read back (stamps and the
    * `dir` provenance demanded) and probed by the 8 probe queries of
    * `e` — what the append and delete rows certify. */
  private def probeResidualIndex(s: SparkSession, dir: String,
                                 e: DataFrame, path: String): DataFrame = {
    val idx = Similarity.readIvfPqResidualIndex(s, path,
      expectedSource = Some(dir))
    Similarity.ivfPqResidualTopK(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", idx.centroids, idx.books, k = 5,
        nProbe = 3, prebuiltCodes = Some(idx.codes))
      .orderBy("query_id", "neighbor_id")
  }

  /** k-means report: each centroid's first two components (6dp) and its
    * member count under one full-corpus assignment. */
  private def kmeansReport(e: DataFrame, cents: DataFrame): DataFrame = {
    val counts = Similarity.ivfAssign(e, "vec_id", "embedding", cents)
      .groupBy("cid").agg(count(lit(1)).as("n_members"))
    cents.join(counts, Seq("cid"), "left")
      .select(col("cid"),
        round(element_at(col("centroid"), 1), 6).as("c1"),
        round(element_at(col("centroid"), 2), 6).as("c2"),
        coalesce(col("n_members"), lit(0L)).as("n_members"))
      .orderBy("cid")
  }

  /** The as-of rigs' sides over the events table with µs timestamps:
    * purchases (user_id, event_id, us), and views made unique per
    * (user_id, us) — the right-side contract of the as-of joins. */
  private def asofSides(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
    (e.filter(col("event_type") === "purchase")
       .select("user_id", "event_id", "us"),
     e.filter(col("event_type") === "view")
       .groupBy("user_id", "us").agg(max("value").as("view_value")))
  }

  /** HLL report over two keyed sets of `d`, so BOTH estimator branches
    * are oracled: the small synthetic vocabulary lands in linear
    * counting (v_zero large), the doc-id set (n >> 2.5m/alpha) in the
    * raw harmonic estimator. `sketch(keyed, keyCol)` builds the register
    * table. A set with no keys reports no row, as the oracle's grouped
    * estimate does (its relative error would divide by zero). */
  private def hllReport(d: DataFrame,
                        sketch: (DataFrame, String) => DataFrame)
      : DataFrame = {
    def row(what: String, keyed: DataFrame, keyCol: String) =
      Sketches.hllEstimate(sketch(keyed, keyCol))
        .crossJoin(keyed.agg(countDistinct(col(keyCol)).cast("long")
          .as("exact_distinct")))
        .filter(col("exact_distinct") > 0)
        .select(lit(what).as("what"),
          col("m").cast("long").as("m"),
          col("v_zero").cast("long").as("v_zero"),
          round(col("sum_inv"), 6).as("sum_inv"),
          round(col("est"), 2).as("est_hll"),
          col("exact_distinct"),
          round(abs(col("est") - col("exact_distinct")) /
            col("exact_distinct") * 100, 2).as("err_pct"))
    row("vocab",
        d.select(explode(TextAnalysis.tokens(col("text"))).as("term")),
        "term")
      .unionByName(row("doc_ids", d.select(col("doc_id")), "doc_id"))
      .orderBy("what")
  }

  /** The documents table plus a synthetic media `payload` per doc, made
    * by `gen(doc_id, n_chars)`, and the `media_meta` struct (media type,
    * byte length, md5) the featurizers read. */
  private def withMedia(s: SparkSession, dir: String, mediaType: String,
                        gen: (Long, Long) => Array[Byte]): DataFrame =
    docs(s, dir)
      .withColumn("payload", udf(gen).apply(col("doc_id"), col("n_chars")))
      .withColumn("media_meta", struct(
        lit(mediaType).as("media_type"),
        octet_length(col("payload")).cast("long").as("byte_len"),
        md5(col("payload")).as("checksum")))

  /** A perceptual-dedup rig: (doc_id, payload) for every doc below
    * `below`, the payload made by `gen(doc_id)`. */
  private def rigPayloads(s: SparkSession, dir: String, below: Long,
                          gen: Long => Array[Byte]): DataFrame =
    docs(s, dir).filter(col("doc_id") < below).select(col("doc_id"))
      .withColumn("payload", udf(gen).apply(col("doc_id")))

  /** One survivor (the min doc_id) per transitive component of a rig's
    * near-dup `pairs` — the keepFirstExact curation policy. */
  private def rigSurvivors(rig: DataFrame, pairs: DataFrame): DataFrame =
    Dedup.keepFirstExact(rig.select("doc_id"), "doc_id", pairs)
      .select("doc_id").orderBy("doc_id")

  /** An 18x16 grayscale PNG of 2x2 boxes over a 9x8 luma grid: row cy
    * starts at 100 + (seed*13 + cy*7) % 40 and walks +5 / -5 per
    * gradient bit j, set when (seed*131 + j*37) % 97 < 41, with bit
    * `flip` inverted (-1: none). Its dHash is exactly those 63 bits —
    * the frame every perceptual image and video rig is made of. */
  private[graft] def gradientPng(seed: Int, flip: Int = -1): Array[Byte] = {
    val grid = Array.ofDim[Int](8, 9)
    for (cy <- 0 until 8) {
      grid(cy)(0) = 100 + ((seed * 13 + cy * 7) % 40)
      for (cx <- 0 until 8) {
        val j = cy * 8 + cx
        val bit = j < 63 && ((((seed * 131 + j * 37) % 97) < 41) ^ (j == flip))
        grid(cy)(cx + 1) = grid(cy)(cx) + (if (bit) 5 else -5)
      }
    }
    val px = new Array[Byte](18 * 16)
    for (py <- 0 until 16; pxx <- 0 until 18)
      px(py * 18 + pxx) = grid(py / 2)(pxx / 2).toByte
    graft.operators.MediaCodec.pngEncodeGray(18, 16, px)
  }

  /** The image rig's payload: the gradient frame of group doc_id % 16,
    * every third doc (doc_id % 3 == 0) with bit doc_id % 63 flipped. */
  private def dedupPng(id: Long): Array[Byte] =
    gradientPng((id % 16).toInt, if (id % 3 == 0) (id % 63).toInt else -1)

  /** The audio rig's payload: a mono PCM16 WAV of 65 constant-amplitude
    * segments of 50 frames. Group g = doc_id % 16 starts the amplitude
    * at 12000 + (g*37) % 2000 and walks +-150 per envelope bit j, set
    * when (g*113 + j*41) % 89 < 37, bit doc_id % 63 flipped when
    * doc_id % 3 == 1. The walk stays in [2400, 23600] — strictly
    * positive (|sample| == amplitude, so the closed form holds) and well
    * inside Short range. */
  private def envelopeWav(id: Long): Array[Byte] = {
    val g = (id % 16).toInt
    val amps = new Array[Int](65)
    amps(0) = 12000 + ((g * 37) % 2000)
    for (j <- 0 until 64) {
      val bit = j < 63 && {
        (((g * 113 + j * 41) % 89) < 37) ^
          (id % 3 == 1 && j == (id % 63).toInt)
      }
      amps(j + 1) = amps(j) + (if (bit) 150 else -150)
    }
    val samples = new Array[Short](65 * 50)
    for (j <- 0 until 65; k <- 0 until 50)
      samples(j * 50 + k) = amps(j).toShort
    graft.operators.MediaCodec.wavEncodePcm16(8000, 1, samples)
  }

  /** The video rig's payload: a 5-frame Motion-PNG AVI of the gradient
    * frames of group g = doc_id % 8 (seeds g*8 + k), with frame 2 of
    * every third doc (doc_id % 3 == 0) replaced by the doc-unique seed
    * 2000 + doc_id (an edit). */
  private def frameAvi(id: Long): Array[Byte] = {
    val g = (id % 8).toInt
    val frames = Array.tabulate(5) { k =>
      gradientPng(if (id % 3 == 0 && k == 2) (2000 + id).toInt else g * 8 + k)
    }
    graft.operators.MediaCodec.aviEncodeMpng(18, 16, 25, frames)
  }
  val queries: Map[String, Q] = Map(
    // exact content dedup: survivors + multiplicity per content hash
    "dd_exact" -> ((s, dir) => {
      Dedup.exactByContent(docs(s, dir), "doc_id", "text")
        .select(col("content_hash"), col("doc_id"), col("dup_count"))
        .orderBy("doc_id")
    }),

    // exact n-gram jaccard near-dup pairs (inverted-index join; oracled)
    "dd_ngram_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
          threshold = 0.8, n = 3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // minhash LSH near-dup pairs (md5-derived hashes -> fully oracled)
    "dd_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashPairs(docs(s, dir), "doc_id", "text", threshold = 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // simhash near-dup pairs (md5-derived hashes -> fully oracled)
    "dd_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // near-dedup survivors: keep-first over the exact-jaccard pair set
    "dd_survivors" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.8, 3)
      Dedup.keepFirst(d, "doc_id", pairs).select("doc_id").orderBy("doc_id")
    }),

    // transitive duplicate clusters: iterative min-label propagation
    // (union-find semantics) over the same pair set; singletons cluster to
    // themselves (oracled via DuckDB recursive CTE)
    "dd_clusters" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.8, 3)
      val cc = Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
      d.select("doc_id").join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .orderBy("doc_id")
    }),

    // cluster-exact survivors: one doc per transitive component — compare
    // dd_survivors (greedy keep-first can keep several per component)
    "dd_survivors_exact" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.8, 3)
      Dedup.keepFirstExact(d, "doc_id", pairs)
        .select("doc_id").orderBy("doc_id")
    }),

    // best-copy survivors: one doc per transitive component, keeping the
    // LONGEST copy (id tiebreak) — the keep-the-best-extraction policy,
    // vs dd_survivors_exact's keep-first (min id)
    "dd_survivors_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.8, 3)
      Dedup.keepBest(d, "doc_id", pairs, length(col("text")))
        .select("doc_id").orderBy("doc_id")
    }),

    // benchmark decontamination: corpus docs (id >= 50) whose word-3-gram
    // containment of a "benchmark" doc (id < 50) reaches 0.8 — the
    // train/test-leak detector (oracled)
    "dd_contam" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminationPairs(d.filter(col("doc_id") >= 50),
          d.filter(col("doc_id") < 50), "doc_id", "text",
          n = 3, threshold = 0.8)
        .select(col("corpus_id"), col("bench_id"),
          round(col("containment"), 4).as("containment"))
        .orderBy("corpus_id", "bench_id")
    }),

    // incremental dedup: the newest 1/5 of docs (by id) surviving exact +
    // minhash near-dup checks against the landed corpus (older 4/5) and
    // earlier batch docs — the daily-ingest shape (oracled in md5 mode).
    // The split is proportional, not a fixed id, so batch << corpus at
    // every scale factor; the cut is one parquet-footer max() scalar.
    //
    // STEADY-STATE PROBE path: the corpus index is materialized once per
    // JVM (write-once memo below) and every execution probes it — the
    // shape a daily 100 TB ingest actually runs, and what this contract
    // row times once warm (the index write lands in the first run). The
    // inline-recompute contender that justifies the index lives in
    // DedupRigSpec's index-probe rig, not in the contract — its 100 TB
    // answer is always "use the index".
    "dd_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val cut = docIdCut(d, 4, 5)
      Dedup.incrementalSurvivors(d.filter(col("doc_id") >= cut),
          steadyMinhashIndex(s, dir, d.filter(col("doc_id") < cut)),
          "doc_id", "text", threshold = 0.8)
        .select("doc_id").orderBy("doc_id")
    }),

    // the same incremental dedup through the MATERIALIZED corpus-index
    // path: hash/signature/bucket frames written to parquet once, read
    // back, probed — the write-once / probe-per-batch 100 TB shape. Same
    // semantics as dd_incremental (same oracle); what this row certifies
    // is the index round-trip, metadata-carried hyperparameters, and the
    // probe plan that never re-reads the corpus text.
    "dd_incremental_idx" -> ((s, dir) => {
      val d = docs(s, dir)
      val cut = docIdCut(d, 4, 5)
      // per-process, full-path-keyed temp location: overwrite-on-write,
      // so repeated runs (bench min-of-N) neither accumulate dirs nor
      // reuse a stale artifact from another scale factor or process
      val path = scratchPath("graft_mh_index", dir)
      Dedup.writeMinhashIndex(d.filter(col("doc_id") < cut),
        "doc_id", "text", path, sourceTag = dir)
      Dedup.incrementalSurvivors(d.filter(col("doc_id") >= cut),
          Dedup.readMinhashIndex(s, path, expectedSource = Some(dir)),
          "doc_id", "text", threshold = 0.8)
        .select("doc_id").orderBy("doc_id")
    }),

    // span-level exact-substring duplication: maximal token ranges whose
    // every 8-gram appears in >= 2 docs — substring dedup's detection
    // pass, span-merged via gaps-and-islands (oracled)
    "dd_spans" -> ((s, dir) => {
      Dedup.repeatedSpans(docs(s, dir), "doc_id", "text", n = 8, minDocs = 2)
        .orderBy("doc_id", "span_start")
    }),

    // substring dedup's REMOVAL pass: rebuild every doc without its
    // repeated-span tokens (boilerplate-strip policy; canonical
    // whitespace; fully-covered docs keep an empty-string row) (oracled)
    "dd_spans_cut" -> ((s, dir) => {
      val d = docs(s, dir)
      val spans = Dedup.repeatedSpans(d, "doc_id", "text", n = 8, minDocs = 2)
      Dedup.cutSpans(d, "doc_id", "text", spans)
        .select("doc_id", "text").orderBy("doc_id")
    }),

    // keep-one-copy substring dedup: the first (doc_id, span_start)
    // occurrence of each repeated passage survives, every other copy is
    // cut — the policy training pipelines actually run (oracled)
    "dd_spans_keep1" -> ((s, dir) => {
      val d = docs(s, dir)
      val spans = Dedup.repeatedSpans(d, "doc_id", "text", n = 8, minDocs = 2)
      val toCut = Dedup.dropKeptOccurrence(d, "doc_id", "text", spans)
      Dedup.cutSpans(d, "doc_id", "text", toCut)
        .select("doc_id", "text").orderBy("doc_id")
    }),

    // deterministic weighted dataset mixing: en kept fully, zh halved,
    // de quartered, everything else at 10% — md5-coin per doc, so the
    // mix replays identically on any engine (oracled)
    "ds_mix" -> ((s, dir) => {
      Prep.weightedSample(docs(s, dir), "doc_id", "lang",
          Map("en" -> 1.0, "zh" -> 0.5, "de" -> 0.25),
          defaultWeight = 0.1)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // JSONL ingest round-trip: documents -> line-delimited JSON ->
    // explicit-schema read -> per-lang aggregate; the oracle computes
    // the same aggregate from the parquet table, so a match certifies
    // escaping/type/line-splitting fidelity of the whole round trip
    "ds_jsonl" -> ((s, dir) => {
      jsonlDocs(s, dir).groupBy("lang").agg(
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).cast("long").as("sum_text_len"))
        .orderBy("lang")
    }),

    // keyed upsert: a recrawl batch (every 10th doc, revised text)
    // merges into the corpus — batch rows replace, new keys append;
    // md5(text) per surviving row certifies WHICH version won every
    // key, not just the row count (oracled — see [[Prep.upsert]])
    "ds_upsert" -> ((s, dir) => {
      val d = docs(s, dir)
      val batch = d.filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(col("text"), lit(" [rev2]")))
        .withColumn("n_chars", length(col("text")).cast("long"))
      Prep.upsert(d, batch, "doc_id")
        .select(col("doc_id"), col("n_chars"),
          md5(col("text")).as("content_hash"))
        .orderBy("doc_id")
    }),

    // schema-evolution scan: two parquet generations (v1 without
    // source/n_chars, v2 full) reconciled by one mergeSchema read;
    // count(source) isolates the null-back-filled v1 rows, so the
    // aggregate certifies the reconciliation itself (oracled — see
    // [[evolveDocs]])
    "ds_evolve" -> ((s, dir) => {
      evolveDocs(s, dir).groupBy("lang").agg(
          count(lit(1)).as("n"),
          count(col("source")).as("n_v2"),
          sum(col("n_chars")).as("sum_chars_v2"),
          sum(length(col("text"))).cast("long").as("sum_text_len"))
        .orderBy("lang")
    }),

    // per-domain frequency cap: at most 15 docs per source, keeping the
    // highest-quality ones — the C4/Gopher-style domain rebalancing
    // step; WindowGroupLimit makes the plain window the bounded-shuffle
    // plan (pinned in PlanAuditSpec) (oracled)
    "ds_cap_source" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("quality",
        TextAnalysis.qualityScore(col("text")))
      Prep.capPerGroup(d, "source", 15,
          Seq(col("quality").desc, col("doc_id").asc))
        .select("doc_id", "source", "quality").orderBy("doc_id")
    }),

    // per-language ADAPTIVE quality gate: keep docs at/above their own
    // language's 25th quality percentile — language quality
    // distributions differ, so no single global threshold is right for
    // all of them. percent_rank over a unique (quality, doc_id) order
    // is deterministic cross-engine; one window shuffle on lang
    // (oracled)
    "ds_gate_quantile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).withColumn("quality",
        TextAnalysis.qualityScore(col("text")))
      val w = Window.partitionBy("lang")
        .orderBy(col("quality").asc, col("doc_id").asc)
      d.withColumn("pr", percent_rank().over(w))
        .filter(col("pr") >= 0.25)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // per-language token-budget admission: best-quality-first until the
    // language's budget is spent — the data-mixing step that holds each
    // language to its allocation. Start-offset semantics (the straddling
    // doc is admitted), packSequences' convention; the running sum is
    // one window shuffle on lang (oracled)
    "ds_token_budget" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).withColumn("quality",
        TextAnalysis.qualityScore(col("text")))
      val w = Window.partitionBy("lang")
        .orderBy(col("quality").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("spent", coalesce(sum(col("n_chars")).over(w), lit(0L)))
        .filter(col("spent") < 20000L)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    // embedding near-dup pairs, brute-force verified (oracled)
    "dd_embed_pairs" -> ((s, dir) => {
      import graft.functions.VectorFunctions._
      val e = embs(s, dir)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        normSq(col("embedding")).as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        normSq(col("embedding")).as("nb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("cosine", cosineFromParts(dot(col("va"), col("vb")),
          col("na"), col("nb")))
        .filter(col("cosine") >= 0.45)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // embedding near-dup pairs via hyperplane LSH (md5-derived planes ->
    // fully oracled; recall<1 vs dd_embed_pairs by design — the scale path)
    "dd_embed_lsh" -> ((s, dir) => {
      Dedup.embeddingPairs(embs(s, dir), "vec_id", "embedding",
          threshold = 0.3, tables = 8, bits = 8)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // SemDeDup: k-means clusters as the blocking structure, drop the
    // more-central member of every within-cluster high-cosine pair —
    // the full keep/drop decision table is oracled, k-means included
    "dd_semantic" -> ((s, dir) => {
      Dedup.semanticDedup(embs(s, dir), "vec_id", "embedding",
          k = 4, iters = 2, threshold = 0.4)
        .orderBy("vec_id")
    }),

    // brute-force cosine top-k ANN baseline (oracled). The workload is
    // all-pairs corpus self-ANN — neighbors for EVERY vector, the
    // dedup/diversity primitive — which is also where indexing pays:
    // per-row brute cost is n dots, the LSH twin's is tables x bits
    // signature dots plus its candidate share. The corpus is explicitly
    // split [[lshCorpusParts]] ways (single-file local input would
    // otherwise serialize the whole n^2 cosine scan in one task;
    // explicit numPartitions exempts the exchange from AQE size-based
    // coalescing, which cannot see compute density).
    "sim_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(corpusPar(e), e, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    }),

    // int8-quantized brute-force ANN: same workload as sim_topk but over
    // 4x-smaller tinyint vectors — scales cancel in cosine, so no
    // dequantize step anywhere (oracled: the floor-based quantization
    // replays exactly in DuckDB)
    "sim_topk_q8" -> ((s, dir) => {
      val q8 = Similarity.quantizeInt8(embs(s, dir), "vec_id", "embedding")
      Similarity.bruteForceTopK(corpusPar(q8), q8, "vec_id", "qvec", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    }),

    // quantization loss, measured: recall@5 of the int8 path against the
    // float32 exact top-5, banded like sim_recall (oracled)
    "sim_recall_q8" -> ((s, dir) => {
      val e = embs(s, dir)
      val ep = corpusPar(e)
      val q8 = Similarity.quantizeInt8(e, "vec_id", "embedding")
      recallBy(
        Similarity.bruteForceTopK(ep, e, "vec_id", "embedding", k = 5),
        Similarity.bruteForceTopK(corpusPar(q8), q8, "vec_id", "qvec",
          k = 5),
        col("query_id") % 32, "band")
    }),

    // product-quantization ANN: corpus encoded to m=4 one-byte codes per
    // vector (64x smaller than float32 at dim 64 — the memory-bound end
    // of the ANN family), scored by ADC lookup sums. Fully oracled: the
    // per-subspace k-means trajectories, the encode, and the 4dp-ranked
    // ADC cut all replay in DuckDB (the sim_kmeans unrolling pattern)
    "sim_topk_pq" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.pqTopK(corpusPar(e), e, "vec_id", "embedding",
          pqBooks(s, dir), k = 5)
        .orderBy("query_id", "neighbor_id")
    }),

    // quantization loss of the PQ path: recall@5 vs exact float32 top-5,
    // banded like sim_recall_q8. The coarse 4x8 codebook (12 bits/vector)
    // trades recall for 64x compression — this row pins the measured
    // trade, and the shortlist re-rank in pqTopK is the production lever
    // that buys recall back (spec-pinned; oracling it would just replay
    // the brute oracle)
    "sim_recall_pq" -> ((s, dir) => {
      val e = embs(s, dir)
      val ep = corpusPar(e)
      recallBy(
        Similarity.bruteForceTopK(ep, e, "vec_id", "embedding", k = 5),
        Similarity.pqTopK(ep, e, "vec_id", "embedding", pqBooks(s, dir),
          k = 5),
        col("query_id") % 32, "band")
    }),

    // the recall lever, measured: same coarse codes, but pqTopK's
    // production path — ADC shortlist of 50, exact cosine re-rank of
    // just those rows (corpus scanned in 4-byte code space; float
    // vectors touched |queries| x 50 times). Oracled end to end: the
    // shortlist cut ranks the 4dp ADC estimate, the re-rank the raw
    // cosine, both with id tie-breaks
    "sim_recall_pq_rerank" -> ((s, dir) => {
      val e = embs(s, dir)
      val ep = corpusPar(e)
      recallBy(
        Similarity.bruteForceTopK(ep, e, "vec_id", "embedding", k = 5),
        Similarity.pqTopK(ep, e, "vec_id", "embedding", pqBooks(s, dir),
          k = 5, shortlist = PqShortlist),
        col("query_id") % 32, "band")
    }),

    // IVF-PQ: the composed billion-scale index (FAISS's default layout)
    // — nProbe inverted lists bound WHICH code rows a query touches, PQ
    // bounds the BYTES each costs. Fully oracled: label-centroid lists
    // (the sim_topk_ivf chain) restrict the PQ ADC pair space via the
    // injected candidate CTE, same 4dp-ranked cut
    "sim_topk_ivfpq" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 8), "vec_id",
          "embedding", ivfCentroids(e), pqBooks(s, dir), k = 5,
          nProbe = 3)
        .orderBy("query_id", "neighbor_id")
    }),

    // RESIDUAL IVF-PQ (r13): the production IVF-PQ — codebooks trained
    // on the residuals to the coarse centroids, so the m bytes per
    // vector quantize only what the inverted list hasn't explained; the
    // ADC estimate decomposes exactly as q·cent(cid) + q·r̂ with the
    // stored exact reconstruction norm in the denominator. Fully
    // oracled: coarse assignment, 6dp residuals, the per-subspace
    // k-means trajectories over residuals, encode, per-subspace
    // reconstruction norms, and the floor-4dp composed cut all replay
    // in DuckDB
    "sim_topk_ivfpq_res" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfPqResidualTopK(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", ivfCentroids(e), resBooks(s, dir),
          k = 5, nProbe = 3)
        .orderBy("query_id", "neighbor_id")
    }),

    // incremental append to the residual IVF-PQ artifact (r14): half
    // the corpus is indexed from scratch, the other half arrives as a
    // "crawl drop" and is appended — encoded against the artifact's OWN
    // stamped cents/books (fingerprint-verified first), existing codes
    // never rewritten. The composed artifact must probe identically to
    // the from-scratch chain on the full corpus, which is exactly what
    // the oracle computes (same SQL as sim_topk_ivfpq_res) — so a green
    // row certifies FAISS-style add-with-ids, the operation that makes
    // the index affordable when a 100 TB corpus grows
    "sim_topk_ivfpq_res_inc" -> ((s, dir) => {
      val e = embs(s, dir)
      val path = scratchPath("graft_respq_inc", dir)
      Similarity.writeIvfPqResidualIndex(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        ivfCentroids(e), resBooks(s, dir), path, sourceTag = dir)
      Similarity.appendIvfPqResidualIndex(
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", path,
        expectedSource = Some(dir))
      probeResidualIndex(s, dir, e, path)
    }),

    // deletion from the residual IVF-PQ artifact (r15): the index is
    // built on the FULL corpus, then the odd-id half is deleted
    // (FAISS remove_ids — anti-join + crash-safe staged rewrite,
    // cents/books untouched), and the surviving index is probed. The
    // oracle computes the from-scratch residual chain on the full
    // corpus restricted to surviving (even-id) neighbors before the
    // top-5 cut — exactly what a from-scratch index on the survivors
    // under the SAME cents/books would score — so a green row
    // certifies that deleted ids are truly gone and the surviving
    // codes still rank identically (nothing re-encoded, nothing
    // mis-scored)
    "sim_topk_ivfpq_res_del" -> ((s, dir) => {
      val e = embs(s, dir)
      val path = scratchPath("graft_respq_del", dir)
      Similarity.writeIvfPqResidualIndex(e, "vec_id", "embedding",
        ivfCentroids(e), resBooks(s, dir), path, sourceTag = dir)
      val removed = Similarity.deleteFromIvfPqResidualIndex(
        e.filter(col("vec_id") % 2 === 1).select("vec_id"), "vec_id",
        path, expectedSource = Some(dir))
      if (removed == 0L) throw graft.core.EngineError.AnalysisError(
        "sim_topk_ivfpq_res_del needs a corpus with an odd vec_id: " +
          "it deletes the odd ids and probes the survivors, and this " +
          "corpus has none")
      probeResidualIndex(s, dir, e, path)
    }),

    // the recall lever on the residual index (r14): ADC shortlist of 50
    // through ivfPqResidualTopK's production path, exact cosine re-rank
    // of just those rows — sim_recall_pq_rerank's shape composed with
    // the residual chain, oracled end to end (residual trajectory,
    // shortlist cut on the floor-4dp estimate, raw-cosine re-rank, both
    // with id tie-breaks)
    "sim_recall_ivfpq_res_rerank" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 8)
      recallBy(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.ivfPqResidualTopK(e, q, "vec_id", "embedding",
          ivfCentroids(e), resBooks(s, dir), k = 5, nProbe = 3,
          shortlist = PqShortlist),
        col("query_id"), "band")
    }),

    // the same ADC search through the MATERIALIZED index path: books +
    // codes written to parquet with geometry/provenance stamps, read
    // back (stamps demanded), probed — the dd_incremental_idx pattern
    // for ANN. Same oracle as sim_topk_pq: what this row certifies is
    // the artifact round trip, not a new algorithm
    "sim_topk_pq_idx" -> ((s, dir) => {
      val e = embs(s, dir)
      val path = scratchPath("graft_pq_index", dir)
      Similarity.writePqIndex(e, "vec_id", "embedding", pqBooks(s, dir),
        path, sourceTag = dir)
      val idx = Similarity.readPqIndex(s, path, expectedSource = Some(dir))
      Similarity.pqTopK(corpusPar(e), e, "vec_id", "embedding", idx.books,
          k = 5, prebuiltCodes = Some(idx.codes))
        .orderBy("query_id", "neighbor_id")
    }),

    // label centroids: grouped vector mean (oracled on first components)
    "sim_centroids" -> ((s, dir) => {
      Similarity.labelCentroids(embs(s, dir), "label", "embedding")
        .select(col("label"), col("n"),
          round(element_at(col("centroid"), 1), 6).as("c1"),
          round(element_at(col("centroid"), 2), 6).as("c2"))
        .orderBy("label")
    }),

    // count-min sketch: term frequencies estimated from a 3x64 counter
    // grid vs exact counts — md5 hashes make the sketch itself
    // bit-replicable, so the oracle checks exact values, not just the
    // error bound (est >= exact always; overcount = collisions)
    "sk_cms" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      val sketch = Sketches.countMin(toks, "term", width = 64, depth = 3)
      val exact = toks.groupBy("term").agg(count(lit(1)).as("exact"))
      Sketches.countMinEstimate(sketch, exact.select("term"), "term",
          width = 64, depth = 3)
        .join(exact, "term")
        .select(col("term"), col("est"), col("exact"),
          (col("est") - col("exact")).as("overcount"))
        .orderBy("term")
    }),

    // Bloom filter semi-join reduction: 512-bit filter over the doc_id<100
    // member set probed by the whole corpus — no false negatives, a
    // deterministic (md5) set of false positives the oracle reproduces
    "sk_bloom" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id")
      val members = d.filter(col("doc_id") < 100)
      val bf = Sketches.bloomBuild(members, "doc_id", bits = 512, k = 3)
      Sketches.bloomMightContain(bf, d, "doc_id", bits = 512, k = 3)
        .withColumn("in_set", col("doc_id") < 100)
        .orderBy("doc_id")
    }),

    // HyperLogLog cardinality: vocabulary size of the documents corpus
    // estimated from 512 registers vs the exact distinct count — the
    // "size the BPE vocab before training" use case. md5 hashes make
    // the register table bit-replicable, so the oracle checks the
    // sketch structure (v_zero, the exact dyadic sum_inv) and the
    // estimate, not just an error bound. sum_inv is order-exact (every
    // term a dyadic rational, total < 53 significand bits); est/err
    // round at 2dp to absorb the one nondeterminism left (ln differing
    // by an ulp between libm and the JVM).
    "sk_hll" -> ((s, dir) =>
      hllReport(docs(s, dir), Sketches.hllSketch(_, _, m = 512))),

    // 64-bit HyperLogLog (r18, r17 verdict #5): the production-range
    // twin (hllSketch64, ~10^18 ceiling) oracled with the same sk_hll
    // pattern — possible since the twin's hash moved from xxhash64 to
    // an md5 two-slice (hi/lo 32-bit halves of the first 16 md5 hex
    // digits) DuckDB replays exactly, and hllEstimate's present-sum
    // moved to a scaled-integer form whose int->double conversion is
    // correctly rounded in both engines (Sketches.scala scaladoc).
    // Same two keyed sets so BOTH estimator branches are oracled.
    "sk_hll64" -> ((s, dir) =>
      hllReport(docs(s, dir), Sketches.hllSketch64(_, _, m = 512))),

    // JL random projection 64d -> 16d with a deterministic md5-derived
    // matrix — the pre-ANN dimensionality squeeze (oracled bit-for-bit:
    // DuckDB rebuilds the same matrix from the same salt). Result is
    // exploded to one scalar row per (vec_id, j) — the driver compare
    // hashes pandas cells, and array cells are unhashable there.
    // posexplode_OUTER on purpose: a null/empty embedding must still
    // surface as a (vec_id, null, null) row, mirroring the oracle's
    // CROSS JOIN (which emits NULL-valued rows for a NULL vector) —
    // plain posexplode would silently drop the document instead.
    "sim_project" -> ((s, dir) => {
      Similarity.randomProject(embs(s, dir), "embedding", outDim = 16)
        .select(col("vec_id"),
          posexplode_outer(col("projection")).as(Seq("j", "v")))
        .select(col("vec_id"), col("j").cast("long").as("j"),
          TextAnalysis.round4(col("v")).as("value"))
        .orderBy("vec_id", "j")
    }),

    // token counting (oracled)
    "txt_tokens" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.tokenEstimate(col("text")).cast("long")
            .as("token_estimate"))
        .orderBy("doc_id")
    }),

    // quality metrics + score (oracled)
    "txt_quality" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.qualityMetrics(col("text")).as("m"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .select(col("doc_id"),
          col("m.n_tokens").cast("long").as("n_tokens"),
          col("m.mean_token_len").as("mean_token_len"),
          col("m.stopword_ratio").as("stopword_ratio"),
          col("m.alpha_ratio").as("alpha_ratio"),
          col("quality"))
        .orderBy("doc_id")
    }),

    // corpus-relative quality: mean add-k-smoothed bigram
    // log-probability per doc (the CCNet-style LM filter), self-trained
    // on the documents table; <2-token docs carry a NULL score (oracled)
    "txt_lm_score" -> ((s, dir) => {
      LanguageModel.selfScore(docs(s, dir), "doc_id", "text", k = 0.5)
        .orderBy("doc_id")
    }),

    // corpus drift: smoothed unigram KL / Jensen-Shannon divergence
    // between the first and second half of the corpus (by doc_id) —
    // the batch-vs-reference distribution monitor (oracled)
    "txt_divergence" -> ((s, dir) => {
      val d = docs(s, dir)
      val cut = docIdCut(d, 1, 2)
      LanguageModel.unigramDivergence(
        d.filter(col("doc_id") < cut), d.filter(col("doc_id") >= cut),
        "text")
    }),

    // language id vs the labeled lang column (oracled)
    "txt_langid" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // content fingerprint, order-insensitive (oracled via md5)
    "txt_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // streaming HLL batch collapse (r16): distinctUsersPerWindow — the
    // per-window approximate-distinct counter with O(m)-bytes state —
    // run over the batch events table (the ev_attrib certification
    // pattern). The Aggregator's JVM md5 registers are byte-identical
    // to the Sketches SQL family (spec-pinned), so DuckDB replays the
    // register table per window and the row hashes must match; exact
    // per-window distincts ride along for the error column.
    "ev_distinct" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val est = graft.streaming.EventsStreaming
        .distinctUsersPerWindow(e, windowLen = "1 hour", m = 512)
        .select(col("window_start").cast("string").as("h"),
          round(col("est_users"), 2).as("est_users"))
      val exact = e.groupBy(date_trunc("hour", col("ts")).cast("string")
          .as("h"))
        .agg(countDistinct(col("user_id")).cast("long").as("exact_users"))
      est.join(exact, "h")
        .select(col("h"), col("est_users"), col("exact_users"),
          round(abs(col("est_users") - col("exact_users")) /
            col("exact_users") * 100, 2).as("err_pct"))
        .orderBy("h")
    }),

    // batch sessionization: 30-min-gap sessions via lag + running sum (oracled)
    "ev_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val gapUs = 1800L * 1000000L
      val sess = e
        .withColumn("gap", col("us") - lag("us", 1).over(w))
        .withColumn("new_sess",
          when(col("gap").isNull || col("gap") > gapUs, 1).otherwise(0))
        .withColumn("session_id", sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
        .orderBy("user_id", "session_id")
    }),

    // as-of join: each purchase event picks up the user's most recent
    // view value at-or-before it (union+window implementation, oracled
    // against DuckDB's native ASOF JOIN)
    "ev_asof" -> ((s, dir) => {
      val (purchases, views) = asofSides(s, dir)
      graft.operators.AsOfJoin.asofBackward(purchases, views,
          Seq("user_id"), "us", Seq("view_value"))
        .orderBy("event_id")
    }),

    // forward as-of: each purchase picks up the user's NEXT view value
    // at-or-after it (oracled against DuckDB ASOF with <=)
    "ev_asof_fwd" -> ((s, dir) => {
      val (purchases, views) = asofSides(s, dir)
      graft.operators.AsOfJoin.asof(purchases, views,
          Seq("user_id"), "us", Seq("view_value"), direction = "forward")
        .orderBy("event_id")
    }),

    // nearest as-of with a 1-hour tolerance: closest view either side,
    // ties to backward, matches farther than an hour dropped (oracled by
    // combining DuckDB's backward + forward ASOF joins with the same
    // arbitration)
    "ev_asof_near" -> ((s, dir) => {
      val (purchases, views) = asofSides(s, dir)
      graft.operators.AsOfJoin.asof(purchases, views,
          Seq("user_id"), "us", Seq("view_value"), direction = "nearest",
          tolerance = Some(3600L * 1000000L))
        .orderBy("event_id")
    }),

    // purchase attribution as the bounded batch query the watermarked
    // stream-stream join collapses to: each purchase joins the same
    // user's view events from the preceding hour. This calls the
    // STREAMING operator itself
    // ([[graft.streaming.EventsStreaming.purchaseAttribution]]) on the
    // batch frame — `withWatermark` is a no-op on a batch child
    // (Catalyst's EliminateEventTimeWatermark), so the oracle certifies
    // the exact join the stream executes, minus only the state-expiry
    // mechanics the watermark adds (oracled)
    "ev_attrib" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      graft.streaming.EventsStreaming.purchaseAttribution(e)
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("p_ts")).as("p_us"), col("purchase_value"),
          col("view_id"), unix_micros(col("v_ts")).as("v_us"))
        .orderBy("purchase_id", "view_id")
    }),

    // bucketed range join: which orders' first-week windows contain each
    // lineitem ship date (oracled against a plain BETWEEN join)
    "q_range_join" -> ((s, dir) => {
      val pts = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
            .cast("long").as("ship_day"))
      val ivs = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("lo"))
        .withColumn("hi", col("lo") + 7)
      graft.operators.RangeJoin.pointInInterval(pts, ivs,
          "ship_day", "lo", "hi", bucketWidth = 7)
        .select("l_orderkey", "l_linenumber", "ship_day", "o_orderkey")
        .orderBy("l_orderkey", "l_linenumber", "ship_day", "o_orderkey")
    }),

    // canonical text normalization (oracled)
    "txt_normalize" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("norm"),
          length(TextAnalysis.normalize(col("text"))).cast("long")
            .as("norm_len"))
        .orderBy("doc_id")
    }),

    // LSH-probed ANN (md5-derived planes -> fully oracled; the exact
    // counterpart is sim_topk). bits is DERIVED from the corpus size
    // (autoBits: 4 at n=500, 6 at n=2000) so candidates/query stay
    // ~tables x LshTargetBucket at any sf — the oracle derives the same
    // bits from count(*), so the check is sf-agnostic.
    "sim_topk_lsh" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(corpusPar(e), e, "vec_id", "embedding", k = 5,
          tables = 8)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    }),

    // MMR diversified top-k: exact top-12 candidates per query, then 4
    // greedy picks trading relevance against redundancy — the RAG-stage
    // rerank. The whole greedy TRAJECTORY is the result (step + score
    // per pick), and the oracle replays it with an unrolled CTE chain —
    // every cosine and MMR score floor-rounded to 4dp before each
    // argmax, the kmeans-trajectory exactness pattern (oracled)
    "sim_mmr" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.mmrTopK(corpusPar(e), e.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 4, topN = 12, lambda = 0.7)
        .orderBy("query_id", "step")
    }),

    // the k=8 twin keeps the LONG greedy trajectory under the
    // cross-engine gate: mmrTopK runs every greedy step inside one
    // grouped pass over the candidate pairs, so this row walks 4 more
    // steps of the same pass, and a later step that drifted from the
    // oracle would turn it red; 8 unrolled oracle stages replay the
    // longer trajectory exactly
    "sim_mmr8" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.mmrTopK(corpusPar(e), e.filter(col("vec_id") < 4),
          "vec_id", "embedding", k = 8, topN = 12, lambda = 0.7)
        .orderBy("query_id", "step")
    }),

    // LSH recall measurement: fraction of the exact top-5 the LSH probe
    // recovers — the evidence behind "recall tunable via tables x bits"
    // (deterministic given md5-derived planes -> oracled). Recall is
    // summarized per query-id band (32 bands) rather than per query —
    // per-query rows would make the artifact needlessly wide; the banded
    // means still localize a recall regression
    "sim_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val ep = corpusPar(e)
      recallBy(
        Similarity.bruteForceTopK(ep, e, "vec_id", "embedding", k = 5),
        Similarity.lshTopK(ep, e, "vec_id", "embedding", k = 5,
          tables = 8),
        col("query_id") % 32, "band")
    }),

    // IVF ANN: label-centroid coarse quantizer (rounded 6dp so both
    // engines quantize identically), probe 3 of 10 inverted lists, exact
    // cosine re-rank (oracled)
    "sim_topk_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), "vec_id",
          "embedding", ivfCentroids(e), k = 5, nProbe = 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    }),

    // deterministic k-means (lowest-id init, 6dp-rounded trajectories):
    // centroids + member counts after 2 iterations, value-verified
    // against a DuckDB unrolling of the same iterations
    "sim_kmeans" -> ((s, dir) => {
      val e = embs(s, dir)
      kmeansReport(e,
        Similarity.kmeans(e, "vec_id", "embedding", k = 4, iters = 2))
    }),

    // sampled coarse-quantizer training (r14): the kmeans iterations
    // run over a 32-vector md5-rank sample, then ONE full-corpus
    // assignment — the discipline that makes coarse training affordable
    // at 100 TB (per-iteration cost scales with sampleN, not corpus).
    // Oracled exactly like sim_kmeans: DuckDB draws the same sample
    // (md5 strings sort identically), walks the same 6dp trajectory,
    // and assigns the full corpus at the end
    "sim_kmeans_sampled" -> ((s, dir) => {
      val e = embs(s, dir)
      kmeansReport(e, Similarity.kmeansSampled(e, "vec_id", "embedding",
        k = 4, sampleN = 32, iters = 2))
    }),

    // IVF recall vs the exact top-5 (the probes/k tradeoff, measured)
    "sim_recall_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 8)
      recallBy(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.ivfTopK(e, q, "vec_id", "embedding", ivfCentroids(e),
          k = 5, nProbe = 3),
        col("query_id"), "query_id")
    }),

    // IVF recall sweep: the knob a 100 TB user actually turns — mean
    // recall@5 at nProbe 1 / 2 / 4 in one artifact, verifying the
    // probes/recall tradeoff is monotone (more lists probed can only add
    // candidates, so recall never drops). One pass, not one per level:
    // brute force runs once, the probe ranks each query's lists once up
    // to the deepest level and scores every candidate once, and each
    // level is the slice of candidates whose list ranks within its
    // nProbe — exact, because the level-p candidates are precisely
    // those. Cost follows the deepest level, not the number of levels
    // (oracled).
    "sim_recall_sweep" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 8)
      sweepRecall(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.ivfTopKSweep(e, q, "vec_id", "embedding",
          ivfCentroids(e), SweepLevels, k = 5))
    }),

    // the same sweep through the COMPOSED billion-scale index (r12
    // verdict #6): IVF-PQ's nProbe is the identical knob — more lists
    // probed can only widen the ADC candidate pool — but the cut ranks
    // the ADC ESTIMATE, so unlike the exact-cosine sweep above the
    // recall curve is a measured fact, not a lattice guarantee (a
    // flattering estimate entering at higher nProbe can displace a true
    // neighbor). The deepest level's candidates are ADC-scored once and
    // every level ranks its probe-rank slice of them — the slice is
    // exactly that level's candidate set, so each level's cut is the one
    // a single-level probe makes. Oracled per probe level against the
    // full DuckDB PQ replay.
    "sim_recall_sweep_ivfpq" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 8)
      sweepRecall(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.ivfPqTopKSweep(e, q, "vec_id", "embedding",
          ivfCentroids(e), pqBooks(s, dir), SweepLevels, k = 5))
    }),

    // the residual index through the same knob (completes the sweep
    // family: plain IVF, composed IVF-PQ, residual IVF-PQ): the residual
    // codes carry each neighbor's coarse cid, so the probe is the
    // codes-join itself, made once at the deepest level with each
    // list's probe rank; every level ranks its slice of the once-scored
    // candidates
    "sim_recall_sweep_ivfpq_res" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 8)
      sweepRecall(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.ivfPqResidualTopKSweep(e, q, "vec_id", "embedding",
          ivfCentroids(e), resBooks(s, dir), SweepLevels, k = 5))
    }),

    // Gopher-style repetition filter: duplicate-3-gram fraction and
    // top-bigram share per doc, plus the keep verdict at thresholds that
    // split this corpus ~90/10 (oracled — both metrics are exact
    // count arithmetic)
    "txt_repetition" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.round4(TextAnalysis.dupNgramFrac(col("text"), 3))
            .as("dup3_frac"),
          TextAnalysis.round4(TextAnalysis.topNgramFrac(col("text"), 2))
            .as("top2_frac"))
        .withColumn("keep",
          col("dup3_frac") <= 0.05 && col("top2_frac") <= 0.07)
        .orderBy("doc_id")
    }),

    // text -> vector bridge: hashing-trick features + cosine top-3
    // text-neighbors for the first 8 docs — near-dup by CONTENT without
    // any embedding model (oracled: md5 buckets replay in DuckDB)
    "txt_hash_topk" -> ((s, dir) => {
      val fv = TextAnalysis.hashFeatures(docs(s, dir), "doc_id", "text")
      Similarity.bruteForceTopK(fv, fv.filter(col("doc_id") < 8),
          "doc_id", "features", k = 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    }),

    // composite C4/Gopher-style filter report: per-doc keep/drop with
    // per-reason flags — the audit table every corpus filter job emits
    // (reasons are individually oracled via txt_quality/txt_repetition;
    // this query oracles the COMPOSITION and the final keep decision)
    "txt_filter" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.round4(TextAnalysis.dupNgramFrac(col("text"), 3))
            .as("dup3_frac"))
        .withColumn("too_short", col("n_tokens") < 20)
        .withColumn("low_quality", col("quality") < 0.5)
        .withColumn("too_repetitive", col("dup3_frac") > 0.05)
        .withColumn("keep",
          !col("too_short") && !col("low_quality") && !col("too_repetitive"))
        .orderBy("doc_id")
    }),

    // PII redaction audit: deterministic synthetic PII (email/phone/IP
    // built from doc columns — the corpus itself is PII-free) is injected,
    // redacted, and counted; the oracle rebuilds the same doctored text
    // and applies the same RE2-safe patterns (oracled)
    "txt_redact" -> ((s, dir) => {
      val doctored = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org"),
        lit(" or 555-867-"), lpad(pmod(col("doc_id"), lit(10000))
          .cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id"), lit(100)).cast("string"))
      val counts = TextAnalysis.piiCounts(doctored)
      docs(s, dir).select(
          Seq(col("doc_id"),
            TextAnalysis.redactPii(doctored).as("redacted")) ++
          counts.map { case (n, c) => c.cast("long").as(n) }: _*)
        .orderBy("doc_id")
    }),

    // BM25 full-text search: top-10 docs for a 3-term query over the
    // inverted index — retrieval for decontamination lookups / corpus
    // slicing (oracled: same idf/tf math, floor-rounded before the cut)
    "txt_bm25" -> ((s, dir) => {
      Search.bm25TopK(docs(s, dir), "doc_id", "text",
          terms = Seq("spark", "join", "shuffle"), k = 10)
        .select(col("doc").as("doc_id"), col("n_terms_hit"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // corpus length histogram: fixed-width buckets over n_chars — the
    // first chart anyone draws over a new corpus (oracled)
    "txt_length_hist" -> ((s, dir) => {
      docs(s, dir)
        .select((floor(length(col("text")) / 100) * 100).as("bucket_lo"))
        .groupBy("bucket_lo").agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket_lo")
    }),

    // corpus top terms: explode -> count -> top-k (oracled)
    "txt_top_terms" -> ((s, dir) => {
      docs(s, dir).repartition(col("doc_id"))
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(20)
    }),

    // heavy hitters, the scale-path twin of txt_top_terms: candidates
    // from a 25% md5-coin doc sample, exact counts via broadcast
    // semi-join — bounded shuffle instead of full-vocab shuffle. The
    // oracle is the plain exact top-k SQL: the contract certifies the
    // sampled candidate generation recovered the exact answer
    "txt_heavy_hitters" -> ((s, dir) => {
      TextAnalysis.heavyHitters(docs(s, dir), "doc_id", "text",
        k = 15, candidates = 150, samplePct = 25)
    }),

    // BPE tokenizer TRAINING: the merge trajectory itself is the output
    // — 8 greedy (max-count, lex-least) pair merges over the corpus
    // word-frequency dict, each applied with plain-replace greedy
    // left-to-right semantics. The oracle replays all 8 iterations as
    // unrolled CTEs (the kmeans/MMR trajectory pattern), so a
    // divergence in ANY iteration's count, tie-break, or merge
    // application turns the row red.
    "txt_bpe" -> ((s, dir) =>
      Bpe.train(docs(s, dir), "text", nMerges = 8).orderBy("step")),

    // ENCODE under the trained tokenizer: per-doc token/word counts
    // with the 8 learned merges applied in training order. The merge
    // table is collected (8 rows — the shipped-tokenizer artifact, same
    // bounded-driver discipline as the CC gate) and re-enters the plan
    // as literals; the merge chain is evaluated once per DISTINCT word
    // and joined back to per-doc occurrences (the Zipf trick), so the
    // corpus never passes through the merge expressions.
    "txt_bpe_tokens" -> ((s, dir) => {
      Bpe.encodeTokenCounts(docs(s, dir), "doc_id", "text",
          trainedMerges(s, dir))
        .orderBy("doc_id")
    }),

    // the token-budget admission gate driven by the REAL tokenizer:
    // same per-language best-quality-first running sum as
    // ds_token_budget, but `spent` accumulates BPE token counts under
    // the 8 trained merges instead of the n_chars estimate — the
    // composition a production budget actually runs (budgets are set in
    // tokens; an estimate drifts with language and formatting). Docs
    // with no alphabetic words have no token count and drop (inner
    // join, both engines).
    "ds_token_budget_bpe" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Bpe.encodeTokenCounts(docs(s, dir), "doc_id", "text",
        trainedMerges(s, dir)).select(col("doc_id"), col("n_tokens"))
      val d = docs(s, dir)
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .join(toks, "doc_id")
      val w = Window.partitionBy("lang")
        .orderBy(col("quality").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("spent", coalesce(sum(col("n_tokens")).over(w),
          lit(0L)))
        .filter(col("spent") < 5000L)
        .select("doc_id", "lang", "n_tokens").orderBy("doc_id")
    }),

    // the tokenizer ARTIFACT round trip (certification, like
    // dd_incremental_idx / ds_curate_staged): train → writeMerges
    // (normalization version + corpus provenance stamped into the
    // parquet metadata) → readMerges (contract validated, provenance
    // DEMANDED back) → encode. Oracled against the same per-doc counts
    // as txt_bpe_tokens — green only if the shipped artifact reproduces
    // the in-process tokenizer exactly.
    "txt_bpe_artifact" -> ((s, dir) => {
      val path = scratchPath("graft_bpe_merges", dir)
      // write-once-per-JVM, like the steady minhash index: the train +
      // write is setup (landing in the first run); every
      // execution still READS the artifact, validates its stamped
      // contract, and demands the provenance tag — the certified path
      once(written, path)(Bpe.writeMerges(Bpe.train(docs(s, dir), "text",
        nMerges = 8), path, sourceTag = dir))
      val merges = Bpe.readMerges(s, path, expectedSource = Some(dir))
      Bpe.encodeTokenCounts(docs(s, dir), "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // TF-IDF per (doc, term): the classic feature-extraction join.
    // round(6) absorbs potential last-ulp libm log() differences.
    // The corpus size joins in as a broadcast scalar aggregate — one job,
    // no driver-side count() during plan construction.
    "txt_tfidf" -> ((s, dir) => {
      val d = docs(s, dir).repartition(col("doc_id"))
      val nDocs = d.agg(count(lit(1)).cast("double").as("n_docs"))
      val terms = d.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      tf.join(dfreq, "token")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round(col("tf") *
          log(col("n_docs") / col("df")), 6))
        .filter(col("doc_id") < 10)
        .select("doc_id", "token", "tf", "df", "tfidf")
        .orderBy("doc_id", "token")
    }),

    // long-doc chunking into 64-token windows with 16-token overlap
    // (oracled)
    "txt_chunks" -> ((s, dir) => {
      Prep.chunk(docs(s, dir).filter(col("doc_id") < 20), "doc_id", "text",
          chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")
    }),

    // deterministic md5 train/val/test split (oracled)
    "ds_split" -> ((s, dir) => {
      Prep.hashSplit(docs(s, dir), "doc_id", trainPct = 90, valPct = 5)
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    }),

    // deterministic global shuffle: every doc's position in the
    // md5-permuted training order, computed with the two-phase
    // bucket-prefix rank — no global single-partition window (oracled:
    // DuckDB's row_number over the same hash ordering)
    "ds_shuffle" -> ((s, dir) => {
      Prep.deterministicShuffle(docs(s, dir), "doc_id")
        .select("doc_id", "shuffle_pos")
        .orderBy("doc_id")
    }),

    // deterministic stratified sample: 3 docs per language by md5 rank
    // (oracled — unlike random() sampling, hash rank replays exactly)
    "ds_group_sample" -> ((s, dir) => {
      Prep.groupSample(docs(s, dir), "doc_id", "lang", perGroup = 3)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    }),

    // sequence packing into 512-token bins over 8 shards (oracled)
    "ds_pack" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      Prep.packSequences(d, "doc_id", "n_tok", maxTokens = 512, shards = 8)
        .select("doc_id", "shard", "n_tokens", "bin")
        .orderBy("doc_id")
    }),

    // end-to-end curation decision table: quality gate -> language gate ->
    // exact dedup -> near-dup keep-first -> benchmark decontamination ->
    // split assignment, composed as ONE plan; corpus = doc_id >= 50 vs
    // bench = doc_id < 50 (the dd_contam convention). Every stage flag
    // lands in the output, NULL when the doc never reached the stage
    // (oracled)
    "ds_curate" -> ((s, dir) => {
      val d = docs(s, dir)
      Curate.decisionTable(d.filter(col("doc_id") >= 50),
          d.filter(col("doc_id") < 50), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // curation composed with the per-domain cap — the full modern
    // pre-training pass: gates -> dedup -> decontamination -> split,
    // then at most 10 of the highest-quality survivors per source
    // (C4-style domain rebalancing AFTER cleaning, so a flood of
    // near-identical crawl pages can't eat a domain's budget before
    // dedup has collapsed them). One plan; the cap window rides the
    // WindowGroupLimit prune like ds_cap_source (oracled).
    // r19: `source` rides the decision table's carry and `quality` is
    // the table's own score column, so the cap never re-joins the
    // corpus (the former Curate.curate join-back + quality recompute
    // was a second full corpus pass feeding a corpus-sized join —
    // guide §3 join elimination; the oracle's survivors CTE reads
    // dec2.quality, i.e. the decision table's score, so the two stages
    // agree by construction)
    "ds_curate_capped" -> ((s, dir) => {
      val d = docs(s, dir)
      val kept = Curate.decisionTable(d.filter(col("doc_id") >= 50),
          d.filter(col("doc_id") < 50), "doc_id", "text",
          carry = Seq("source"))
        .filter(col("kept") === 1)
        .select("doc_id", "source", "quality", "split")
      Prep.capPerGroup(kept, "source", 10,
          Seq(col("quality").desc, col("doc_id").asc))
        .select("doc_id", "source", "quality", "split")
        .orderBy("doc_id")
    }),

    // the staged-materialization twin certified on its ARTIFACT: run
    // curateStaged (each stage written to parquet, next stage reads it
    // back — the restartable cold-storage shape), then emit the FINAL
    // stage file re-read from disk. The oracle replays the whole
    // pipeline in DuckDB, so the files a 100 TB run would audit are
    // cross-engine-verified, not just spec-pinned equal to the
    // single-plan form (oracled)
    "ds_curate_staged" -> ((s, dir) => {
      val d = docs(s, dir)
      val stageDir = scratchPath("graft_curate_stages", dir)
      Curate.curateStaged(d.filter(col("doc_id") >= 50),
        d.filter(col("doc_id") < 50), "doc_id", "text", stageDir)
      s.read.parquet(s"$stageDir/clean")
        .select("doc_id", "text", "bucket", "split").orderBy("doc_id")
    }),

    // corpus INGEST (DocsStreaming.ingestBatch): gates, keep-first
    // (lowest (ts, doc_id) per content_hash), the landed-corpus probe
    // and token accounting over one drop. Landed corpus = every 5th
    // doc's hashes; the rest arrive as the drop with a deterministic
    // doc_id-derived arrival time. The oracle replays gates,
    // keep-first, the anti-probe, and both token counts
    "ds_ingest" -> ((s, dir) => {
      val d = docs(s, dir)
      val landed = d.filter(col("doc_id") % 5 === 0)
      val drop = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
      graft.streaming.DocsStreaming.ingestBatch(drop,
          Some(graft.streaming.DocsStreaming.corpusHashIndex(landed,
            "text")))
        .select(col("doc_id"), col("content_hash"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_tokens_est").cast("long").as("n_tokens_est"))
        .orderBy("doc_id")
    }),

    // multimodal metadata plumbing (oracled: byte length + checksum)
    "mm_meta" -> ((s, dir) => {
      Multimodal.attachPayload(docs(s, dir), "text", "image/png")
        .select(col("doc_id"), col("media_meta.byte_len").as("byte_len"),
          col("media_meta.checksum").as("checksum"))
        .orderBy("doc_id")
    }),

    // multimodal featurize through the batched mapPartitions path with a
    // REAL decode: each doc's payload is a genuine PNG (signature, chunk
    // CRCs, zlib IDAT) whose dims/color derive from doc columns; the
    // decoder inverts the encoding from the raw bytes (IHDR parse, IDAT
    // inflate, scanline unfilter, pixel means), and the oracle computes
    // the same dims/channel values directly from the doc columns — green
    // only if decode(encode(x)) == x for every row
    "mm_features" -> ((s, dir) => {
      val withPayload = withMedia(s, dir, "image/png", (id, nChars) =>
        graft.operators.MediaCodec.pngEncodeSolid(
          w = (8 + id % 32).toInt, h = (8 + nChars % 32).toInt,
          r = (id % 256).toInt, g = (id * 7 % 256).toInt,
          b = ((id * 13 + 5) % 256).toInt))
      Multimodal.featurize(withPayload, "doc_id").toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          element_at(col("feature"), 1).cast("int").as("mean_r"),
          element_at(col("feature"), 2).cast("int").as("mean_g"),
          element_at(col("feature"), 3).cast("int").as("mean_b"))
        .orderBy("doc_id")
    }),

    // real AUDIO round-trip, same certification shape as mm_features:
    // synthesize a deterministic PCM16 WAV per doc (mono/stereo by id
    // parity, constant amplitude per channel derived from doc columns),
    // run the full distributed decode (RIFF walk + per-sample RMS), and
    // let the oracle recompute rate/channels/frames/duration/amplitude
    // directly from the doc columns. Constant-signal RMS = |amp|, and
    // amp/32768 is a dyadic rational — exact in both engines, so the
    // amplitudes compare as exact ints (x32768), no rounding policy
    // needed. Green only if decode(encode(x)) == x for every row.
    "mm_audio" -> ((s, dir) => {
      val withPayload = withMedia(s, dir, "audio/wav", (id, nChars) => {
        val channels = 1 + (id % 2).toInt
        val frames = (64 + nChars % 128).toInt
        val samples = Array.tabulate[Short](frames * channels) { i =>
          ((id * 31 + (i % channels) * 17) % 20000 + 1000).toShort
        }
        graft.operators.MediaCodec.wavEncodePcm16(8000, channels, samples)
      })
      Multimodal.featurizeAudio(withPayload, "doc_id").toDF()
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("duration_ms"),
          (element_at(col("feature"), 1) * 32768).cast("int").as("amp_1"),
          when(size(col("feature")) >= 2,
            (element_at(col("feature"), 2) * 32768).cast("int"))
            .otherwise(lit(-1)).as("amp_2"))
        .orderBy("doc_id")
    }),

    // real VIDEO round-trip, completing the media triple: synthesize a
    // deterministic AVI per doc (RIFF container, avih/strh/strf headers,
    // Motion-PNG '00dc' frames whose solid colors derive from doc
    // columns + frame index), run the distributed container walk +
    // strided per-frame PNG decode (every 2nd frame — the frame-sample
    // op, so decode cost scales with n_frames/stride), and let the
    // oracle recompute dims/fps/frame-count and the per-channel color
    // SUM over exactly the sampled indices. Emitting sum = mean *
    // n_sampled (both engines round the half-ulp away) keeps the
    // compare in exact integers. Green only if demux+decode inverts the
    // container encoding for every row.
    "mm_video" -> ((s, dir) => {
      val withPayload = withMedia(s, dir, "video/avi", (id, nChars) => {
        val w = (4 + id % 8).toInt; val h = (4 + nChars % 8).toInt
        val frames = Array.tabulate((3 + nChars % 6).toInt) { i =>
          graft.operators.MediaCodec.pngEncodeSolid(w, h,
            r = ((id * 7 + i * 13) % 256).toInt,
            g = ((id * 11 + i * 29) % 256).toInt,
            b = ((id * 3 + i * 41 + 5) % 256).toInt)
        }
        graft.operators.MediaCodec.aviEncodeMpng(w, h, 25, frames)
      })
      def chanSum(i: Int) =
        round(element_at(col("feature"), i).cast("double") *
          col("n_sampled")).cast("int")
      Multimodal.featurizeVideo(withPayload, "doc_id", frameStride = 2)
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("fps"),
          col("n_frames"), col("n_sampled"),
          chanSum(1).as("sum_r"), chanSum(2).as("sum_g"),
          chanSum(3).as("sum_b"))
        .orderBy("doc_id")
    }),

    // perceptual-hash IMAGE dedup (r15): each doc gets a REAL grayscale
    // PNG ([[dedupPng]]) whose dHash is 63 planted gradient bits — group
    // = doc_id % 16 decides the pattern, docs with doc_id % 3 == 0 flip
    // one bit, so same-group pairs sit at hamming <= 2 (near-dups) and
    // cross-group pairs far above the band. The Spark side runs the full
    // production chain: pngEncodeGray -> pngDecodePixels -> integer luma
    // -> 9x8 box resample -> aHash/dHash -> hammingPairs chunk
    // pigeonhole. The oracle rebuilds both fingerprints CLOSED-FORM from
    // doc_id (prefix-sum of the planted bits) and brute-forces the pair
    // join — the row is green only if decode(encode(x)), the integer
    // resample, both hash derivations, and the banded recall are ALL
    // bit-exact. Sliced to doc_id < 1000 so the oracle's n^2 pair space
    // stays bounded at every sf (the Spark side never materializes n^2).
    "mm_dedup" -> ((s, dir) => {
      val fp = Multimodal.imageHashes(rigPayloads(s, dir, 1000, dedupPng),
          "doc_id", "payload")
        .cache()
      graft.operators.Dedup.hammingPairs(fp, "doc_id", "dhash",
          maxHamming = 3)
        .join(fp.select(col("doc_id").as("id_a"),
          col("ahash").as("ah_a")), "id_a")
        .join(fp.select(col("doc_id").as("id_b"),
          col("ahash").as("ah_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming_d"),
          bit_count(col("ah_a").bitwiseXOR(col("ah_b"))).cast("int")
            .as("hamming_a"))
        .orderBy("id_a", "id_b")
    }),

    // perceptual AUDIO dedup (r15): mm_dedup's construction applied to
    // waveforms ([[envelopeWav]]) — amplitude envelopes walking +-150
    // per planted gradient bit; group = doc_id % 16 decides the
    // envelope, docs with doc_id % 3 == 1 flip one bit, so same-group
    // pairs sit within the band and cross-group pairs far above it.
    // Spark runs the production chain (wavEncodePcm16 ->
    // wavDecodeSamples -> integer mono magnitude -> 65-window floor
    // means -> gradient hash -> hammingPairs); the oracle rebuilds the
    // fingerprints closed-form from doc_id and brute-forces the pair
    // join. Sliced to doc_id < 1000 to bound the oracle's n^2 space.
    "mm_audio_dedup" -> ((s, dir) => {
      Multimodal.audioDedupPairs(rigPayloads(s, dir, 1000, envelopeWav),
          "doc_id", "payload", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // perceptual VIDEO dedup (r15): near-dup videos by FRAME-SET
    // overlap — each doc gets a REAL 5-frame Motion-PNG AVI
    // ([[frameAvi]]) whose frames are the mm_dedup gradient images;
    // group = doc_id % 8 decides the frame seeds, and docs with
    // doc_id % 3 == 0 replace frame 2 with a doc-unique frame (an
    // edit), so same-group pairs sit at jaccard 1.0 / 0.6667 and
    // cross-group pairs share nothing. Spark runs the production chain
    // (aviEncodeMpng -> aviFrames demux -> per-frame pngDecodePixels ->
    // dHash -> inverted-index join on the frame fingerprint); the oracle
    // rebuilds every frame's dhash closed-form from (doc_id, frame) and
    // replays the set-jaccard join. Sliced to doc_id < 400 to bound the
    // rig.
    "mm_video_dedup" -> ((s, dir) => {
      // maxDocFreq = 60 puts the stop-frame prune IN the oracled path
      // (r16 verdict #2): the rig's max frame doc-freq is 50 (one group
      // = 50 docs), so no frame is pruned and the values still replay
      // closed-form — the oracle carries the SAME df > 60 filter on the
      // join sides, so a prune that ever fired wrong would hash-mismatch
      Multimodal.videoDedupPairs(rigPayloads(s, dir, 400, frameAvi),
          "doc_id", "payload", threshold = 0.5, maxDocFreq = Some(60))
        .select(col("id_a"), col("id_b"),
          col("n_shared").cast("bigint").as("n_shared"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // perceptual dedup routed into CURATION (r17, r16 verdict #4): the
    // mm_dedup rig's image near-dup pairs feed connectedComponents ->
    // keepFirstExact — ONE surviving copy per transitive perceptual
    // cluster, the same survivor policy the text corpus gets
    // (dd_survivors_exact), now applied to pixels. The rig's 16 planted
    // gradient groups each collapse to one component (every intra-group
    // pair sits within hamming 3 of the dHash), so exactly 16 images
    // survive; the oracle rebuilds the dhashes closed-form, brute-forces
    // the banded pair set, and replays the min-label transitive closure
    // as a recursive CTE.
    "mm_survivors" -> ((s, dir) => {
      val rig = rigPayloads(s, dir, 1000, dedupPng)
      rigSurvivors(rig,
        Multimodal.imageDedupPairs(rig, "doc_id", "payload", maxHamming = 3))
    }),

    // AUDIO survivors (r18, r17 verdict #6): the mm_audio_dedup wav rig's
    // perceptual pairs routed through the same curation keep policy as
    // mm_survivors — audioDedupPairs -> connectedComponents ->
    // keepFirstExact, one surviving waveform (min doc_id) per transitive
    // envelope-hash cluster. The rig's 16 planted envelope groups each
    // collapse to one component, so 16 waveforms survive; the oracle
    // rebuilds the envelope hashes closed-form, brute-forces the banded
    // pair set, and replays the min-label transitive closure.
    "mm_audio_survivors" -> ((s, dir) => {
      val rig = rigPayloads(s, dir, 1000, envelopeWav)
      rigSurvivors(rig,
        Multimodal.audioDedupPairs(rig, "doc_id", "payload", maxHamming = 3))
    }),

    // VIDEO survivors (r18, r17 verdict #6): the mm_video_dedup avi rig's
    // frame-set-jaccard pairs (WITH the stop-frame prune in the path,
    // maxDocFreq = 60 — inert on this rig, see the mm_video_dedup note)
    // routed through the same keep policy: videoDedupPairs ->
    // connectedComponents -> keepFirstExact. Every same-group pair
    // scores jaccard >= 0.6667 >= 0.5, so each of the 8 planted frame
    // groups collapses to one component and 8 videos survive; the
    // oracle replays the jaccard join closed-form and the min-label
    // transitive closure.
    "mm_video_survivors" -> ((s, dir) => {
      val rig = rigPayloads(s, dir, 400, frameAvi)
      rigSurvivors(rig, Multimodal.videoDedupPairs(rig, "doc_id", "payload",
        threshold = 0.5, maxDocFreq = Some(60)))
    }),
  )

  /** DuckDB twin of Similarity.quantizeInt8 over the embeddings table:
    * identical floor-based rule (floor and IEEE division are bit-exact in
    * both engines), quantized components as exact integers in double
    * lists. */
  private val Q8Ctes =
    """emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       sc AS (SELECT vec_id, e,
                list_max(list_transform(e, x -> abs(x))) / 127.0 AS s
              FROM emb),
       qv AS (SELECT vec_id, e,
                CASE WHEN s = 0 THEN list_transform(e, x -> 0.0)
                     ELSE list_transform(e, x ->
                       greatest(-127.0, least(127.0, floor(x / s + 0.5))))
                END AS qv
              FROM sc)"""

  /** Per-subspace k-means over `src(vec_id, e)`, unrolled like
    * [[kmeansCtes]]: `${p}sube` holds each vector's m dsub-wide slices,
    * `${p}cent0` … `${p}cent$iters` walk the trajectory (lowest-id init,
    * `round(c·c - 2·sv·c, 6)` argmin with cid tie-break, 6dp-rounded
    * means), `${p}book` is the densely renumbered codebook and
    * `${p}asg_f(vec_id, sub, cid)` each vector's final code — the
    * Similarity.pqTrain / pqEncode twin both PQ chains share. */
  private def subspaceKmeansCtes(p: String, src: String, m: Int, ksub: Int,
                                 iters: Int): String = {
    val dsub = 64 / m
    def asg(name: String, centName: String) =
      s"""$name AS (SELECT vec_id, sub, cid FROM (
           SELECT s.vec_id, s.sub, c.cid,
             row_number() OVER (PARTITION BY s.vec_id, s.sub
               ORDER BY round(list_dot_product(c.c, c.c)
                 - 2 * list_dot_product(s.sv, c.c), 6) ASC, c.cid ASC)
               AS rn
           FROM ${p}sube s JOIN $centName c ON c.sub = s.sub) WHERE rn = 1)"""
    val sb = new StringBuilder
    sb ++= s"""${p}sube AS (SELECT vec_id, s.sub::INT AS sub,
                  list_slice(e, s.sub::INT * $dsub + 1,
                    (s.sub::INT + 1) * $dsub) AS sv
                FROM $src CROSS JOIN unnest(range(0, $m)) AS s(sub)),
       ${p}cent0 AS (SELECT sub, (rn - 1)::INT AS cid,
                    list_transform(sv, x -> round(x, 6)) AS c
                  FROM (SELECT sub, sv, row_number() OVER (
                          PARTITION BY sub ORDER BY vec_id) AS rn
                        FROM ${p}sube)
                  WHERE rn <= $ksub)"""
    for (i <- 1 to iters) {
      sb ++= s""",
       ${asg(s"${p}asg$i", s"${p}cent${i - 1}")},
       ${p}sums$i AS (SELECT a.sub, a.cid, d.d AS pos,
                     sum(s.sv[d.d::INT + 1]) AS sm, count(*) AS n
                   FROM ${p}asg$i a JOIN ${p}sube s
                     ON s.vec_id = a.vec_id AND s.sub = a.sub
                   CROSS JOIN unnest(range(0, $dsub)) AS d(d)
                   GROUP BY a.sub, a.cid, d.d),
       ${p}cent$i AS (SELECT sub, cid, list(round(sm / n, 6) ORDER BY pos)
                     AS c
                   FROM ${p}sums$i GROUP BY sub, cid)"""
    }
    sb ++= s""",
       ${p}book AS (SELECT sub,
                   (row_number() OVER (PARTITION BY sub ORDER BY cid)
                     - 1)::INT AS cid, c
                 FROM ${p}cent$iters),
       ${asg(s"${p}asg_f", s"${p}book")}"""
    sb.toString
  }

  /** DuckDB twin of the full PQ chain (Similarity.pqTrain / pqEncode /
    * pqTopK): [[subspaceKmeansCtes]] over the embeddings (prefix `p`),
    * then ADC scoring by JOINs — mathematically identical to the Spark
    * side's flat-LUT lookups; the LUT is a Spark performance structure,
    * not a semantic one. Sums that Spark performs as ordered folds
    * (`r_nsq`, the m-term ADC dot) are sub-ordered
    * `list_sum(list(... ORDER BY sub))` here; the final cut ranks the
    * floor-4dp cosine with id tie-break on both sides. Ends at `pranked`
    * (query_id, neighbor_id, cosine, rn).
    *
    * Composition hooks for IVF-PQ: `emitEmb = false` skips the leading
    * `emb` CTE (the caller's chain already defines the identical one —
    * [[ivfBaseCtes]]); `candCte` injects a `cand(query_id, neighbor_id)`
    * CTE and restricts the ADC pair space to it — the oracle twin of
    * probing inverted lists before scoring. */
  private def pqCtes(m: Int, ksub: Int, iters: Int,
                     emitEmb: Boolean = true,
                     candCte: Option[String] = None): String = {
    val sb = new StringBuilder
    if (emitEmb)
      sb ++= s"""emb AS (SELECT vec_id, embedding::DOUBLE[] AS e
         FROM embeddings),
       """
    sb ++= s"""${subspaceKmeansCtes("p", "emb", m, ksub, iters)},
       prn AS (SELECT a.vec_id,
                 list_sum(list(list_dot_product(b.c, b.c)
                   ORDER BY a.sub)) AS r_nsq
               FROM pasg_f a JOIN pbook b
                 ON b.sub = a.sub AND b.cid = a.cid
               GROUP BY a.vec_id),
       pqn AS (SELECT vec_id, list_dot_product(e, e) AS q_nsq FROM emb)"""
    for (c <- candCte) sb ++= s""",
       $c"""
    // with a candidate frame the ADC pair space is cand-joined (the
    // inverted-list probe); without it every (query, corpus) pair scores
    val candJoin = if (candCte.isDefined)
      "JOIN cand ON cand.query_id = qs.vec_id AND cand.neighbor_id = a.vec_id"
    else ""
    sb ++= s""",
       pparts AS (SELECT qs.vec_id AS query_id, a.vec_id AS neighbor_id,
                    a.sub, list_dot_product(qs.sv, b.c) AS pv
                  FROM pasg_f a
                  JOIN pbook b ON b.sub = a.sub AND b.cid = a.cid
                  JOIN psube qs ON qs.sub = a.sub
                  $candJoin),
       padc AS (SELECT query_id, neighbor_id,
                  list_sum(list(pv ORDER BY sub)) AS adcdot
                FROM pparts WHERE neighbor_id != query_id
                GROUP BY query_id, neighbor_id),
       pscored AS (SELECT a.query_id, a.neighbor_id,
                     -- factored sqrt(q)*sqrt(r), NOT sqrt(q*r): Spark's
                     -- cosineFromParts computes the factored form and
                     -- the two can differ by 1 ulp — enough to flip the
                     -- floor-4dp cut at a .00005 boundary (r12 advice;
                     -- the exact cross-engine class the MMR
                     -- integer-combine caught live)
                     floor((CASE WHEN q.q_nsq * r.r_nsq = 0 THEN 0
                            ELSE a.adcdot / (sqrt(q.q_nsq) * sqrt(r.r_nsq))
                            END)
                       * 10000 + 0.5) / 10000 AS cosine
                   FROM padc a JOIN pqn q ON q.vec_id = a.query_id
                   JOIN prn r ON r.vec_id = a.neighbor_id),
       pranked AS (SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rn
                   FROM pscored)"""
    sb.toString
  }

  /** DuckDB twin of the RESIDUAL IVF-PQ chain (Similarity.ivfResiduals /
    * pqTrain-on-residuals / ivfPqResidualEncode / ivfPqResidualTopK):
    * 6dp residuals to the coarse centroids, [[subspaceKmeansCtes]]
    * replayed over the residual frame (prefix `r`), per-subspace
    * exact reconstruction norms `||cent_sub + r̂_sub||²` summed in sub
    * order, and the composed floor-4dp cut over
    * `(q·cent + q·r̂) / (sqrt(q_nsq)·sqrt(x_nsq))`. Expects
    * [[ivfBaseCtes]] (emb, cent, assign, probes_ranked) upstream; ends
    * at `rranked (query_id, neighbor_id, cosine, rn)`. The candidate
    * restriction joins each neighbor's OWN coarse cid against the
    * query's probed cids — the Spark side's join-on-cid probe. */
  private def residualIvfPqCtes(m: Int, ksub: Int, iters: Int,
                                nProbe: Int): String = {
    val dsub = 64 / m
    s"""probes AS (SELECT query_id, cid FROM probes_ranked
                  WHERE rn <= $nProbe),
       remb AS (SELECT e.vec_id, a.cid,
                  list_transform(range(1, 65),
                    i -> round(e.e[i] - c.c[i], 6)) AS e
                FROM emb e JOIN assign a USING (vec_id)
                JOIN cent c ON c.cid = a.cid),
       ${subspaceKmeansCtes("r", "remb", m, ksub, iters)},
       xnp AS (SELECT a.vec_id, a.sub,
                 list_dot_product(
                   list_transform(range(1, $dsub + 1),
                     i -> cc.c[a.sub * $dsub + i] + b.c[i]),
                   list_transform(range(1, $dsub + 1),
                     i -> cc.c[a.sub * $dsub + i] + b.c[i])) AS xn
               FROM rasg_f a
               JOIN rbook b ON b.sub = a.sub AND b.cid = a.cid
               JOIN remb r ON r.vec_id = a.vec_id
               JOIN cent cc ON cc.cid = r.cid),
       xnsq AS (SELECT vec_id, list_sum(list(xn ORDER BY sub)) AS x_nsq
                FROM xnp GROUP BY vec_id),
       qsube AS (SELECT vec_id, s.sub::INT AS sub,
                   list_slice(e, s.sub::INT * $dsub + 1,
                     (s.sub::INT + 1) * $dsub) AS sv
                 FROM emb CROSS JOIN unnest(range(0, $m)) AS s(sub)
                 WHERE vec_id < 8),
       qn AS (SELECT vec_id, list_dot_product(e, e) AS q_nsq
              FROM emb WHERE vec_id < 8),
       qcterm AS (SELECT p.query_id, p.cid,
                    list_dot_product(eq.e, c.c) AS qc
                  FROM probes p JOIN emb eq ON eq.vec_id = p.query_id
                  JOIN cent c ON c.cid = p.cid),
       rparts AS (SELECT qs.vec_id AS query_id, a.vec_id AS neighbor_id,
                    a.sub, list_dot_product(qs.sv, b.c) AS pv
                  FROM rasg_f a
                  JOIN rbook b ON b.sub = a.sub AND b.cid = a.cid
                  JOIN remb r ON r.vec_id = a.vec_id
                  JOIN qsube qs ON qs.sub = a.sub
                  JOIN probes p ON p.query_id = qs.vec_id
                    AND p.cid = r.cid),
       radc AS (SELECT query_id, neighbor_id,
                  list_sum(list(pv ORDER BY sub)) AS adcdot
                FROM rparts WHERE neighbor_id != query_id
                GROUP BY query_id, neighbor_id),
       rscored AS (SELECT a.query_id, a.neighbor_id,
                     -- factored sqrt(q)*sqrt(x), the cosineFromParts
                     -- form (see pscored above)
                     floor((CASE WHEN q.q_nsq * x.x_nsq = 0 THEN 0
                            ELSE (t.qc + a.adcdot)
                              / (sqrt(q.q_nsq) * sqrt(x.x_nsq)) END)
                       * 10000 + 0.5) / 10000 AS cosine
                   FROM radc a
                   JOIN qn q ON q.vec_id = a.query_id
                   JOIN xnsq x ON x.vec_id = a.neighbor_id
                   JOIN remb rm ON rm.vec_id = a.neighbor_id
                   JOIN qcterm t ON t.query_id = a.query_id
                     AND t.cid = rm.cid),
       rranked AS (SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rn
                   FROM rscored)"""
  }

  // word-3-gram shingle fragment over an arbitrary (doc_id, text)
  // relation — the one tokenization rule every dedup oracle shares
  private def shingleSqlFrom(rel: String): String =
    """SELECT doc_id, unnest(list_distinct(list_transform(
         range(1, greatest(len(t)-2, 1)+1),
         i -> array_to_string(t[i:i+2], ' ')))) AS shingle
       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             FROM """ + rel + ")"

  private val ShingleSql = shingleSqlFrom("documents")

  // ------------------------------------------------------- oracle builders
  // DuckDB twins of the LSH hashes (Dedup.hash31/hash64/md5Planes):
  // generated with the same constants the Spark operators use, so the
  // "approximate" LSH queries are verified value-for-value.

  /** DuckDB twin of Dedup.hash31(c). */
  private def hash31Sql(c: String): String =
    s"(('0x' || substr(md5($c),1,8))::BIGINT % 2147483647)"

  /** Exact word-3-gram jaccard over `rel(doc_id, text)`, the
    * dd_ngram_pairs computation every text near-dup oracle builds on:
    * shingle sets `sh`, their `sizes`, pairwise shared counts `inter`,
    * and `jpairs(id_a, id_b, jaccard)`, the pairs (id_a < id_b) at
    * jaccard >= 0.8. */
  private def jaccardCtes(rel: String): String =
    s"""sh AS (${shingleSqlFrom(rel)}),
       sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         FROM sh a JOIN sh b
           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       jpairs AS (
         SELECT id_a, id_b,
           i::DOUBLE / (sa.set_size + sb.set_size - i) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE i::DOUBLE / (sa.set_size + sb.set_size - i) >= 0.8)"""

  /** Min-label components of the undirected pair relation
    * `pairs(id_a, id_b)` via recursive transitive closure:
    * `labels(doc_id, cluster)` for every paired doc — the oracle twin of
    * Dedup.connectedComponents (which iterates label propagation; both
    * converge to the component-minimum labeling). Needs WITH RECURSIVE. */
  private def minLabelCtes(pairs: String): String =
    s"""edges AS (SELECT id_a AS a, id_b AS b FROM $pairs
                 UNION SELECT id_b, id_a FROM $pairs),
       reach(a, b) AS (
         SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       labels AS (SELECT a AS doc_id, min(b) AS cluster FROM reach
                  GROUP BY a)"""

  /** Keep-first-exact survivors of `rel(doc_id)` under [[minLabelCtes]]:
    * every doc that is its component's minimum or has no pair. */
  private def componentMinSql(rel: String): String =
    s"""SELECT doc_id FROM $rel
       WHERE doc_id NOT IN
         (SELECT doc_id FROM labels WHERE doc_id != cluster)
       ORDER BY doc_id"""

  /** Jaccard pairs of the documents table and their components. */
  private val CcCtes =
    s"""${jaccardCtes("documents")},
       ${minLabelCtes("jpairs")}"""

  /** The image dedup rig's dhashes rebuilt CLOSED-FORM from doc_id (the
    * [[dedupPng]] construction): `d(doc_id, g)` for doc_id < 1000, the
    * 63 planted gradient `bits` (rule (g*131 + j*37) % 97 < 41, bit
    * doc_id % 63 flipped when doc_id % 3 = 0), and `dh(doc_id, dhash)`. */
  private val ImageFpCtes =
    """d AS (SELECT doc_id, (doc_id % 16)::BIGINT AS g
               FROM documents WHERE doc_id < 1000),
         bits AS (SELECT d.doc_id, j.j,
             CASE WHEN (d.doc_id % 3 = 0 AND j.j = d.doc_id % 63)
                  THEN 1 - (CASE WHEN ((d.g*131 + j.j*37) % 97) < 41
                            THEN 1 ELSE 0 END)
                  ELSE (CASE WHEN ((d.g*131 + j.j*37) % 97) < 41
                        THEN 1 ELSE 0 END)
             END::BIGINT AS bit
           FROM d CROSS JOIN unnest(range(0, 63)) AS j(j)),
         dh AS (SELECT doc_id, sum(bit << j)::BIGINT AS dhash
                FROM bits GROUP BY doc_id)"""

  /** The audio rig's envelope hashes rebuilt closed-form (the
    * [[envelopeWav]] construction): the +-150 steps are strictly
    * monotone and the walk stays positive (|sample| == amplitude), so
    * the hash IS the planted bits — rule (g*113 + j*41) % 89 < 37, bit
    * doc_id % 63 flipped when doc_id % 3 = 1 — as `fp(doc_id, ehash)`. */
  private val AudioFpCtes =
    """d AS (SELECT doc_id, (doc_id % 16)::BIGINT AS g
               FROM documents WHERE doc_id < 1000),
         bits AS (SELECT d.doc_id, j.j,
             CASE WHEN (d.doc_id % 3 = 1 AND j.j = d.doc_id % 63)
                  THEN 1 - (CASE WHEN ((d.g*113 + j.j*41) % 89) < 37
                            THEN 1 ELSE 0 END)
                  ELSE (CASE WHEN ((d.g*113 + j.j*41) % 89) < 37
                        THEN 1 ELSE 0 END)
             END::BIGINT AS bit
           FROM d CROSS JOIN unnest(range(0, 63)) AS j(j)),
         fp AS (SELECT doc_id, sum(bit << j)::BIGINT AS ehash
                FROM bits GROUP BY doc_id)"""

  /** The video rig's frame fingerprints rebuilt closed-form per
    * (doc_id, frame seed) (the [[frameAvi]] construction), then the
    * set-jaccard join replayed as `vpairs(id_a, id_b, n_shared,
    * jaccard)` at jaccard >= 0.5. The stop-frame prune
    * (maxDocFreq = 60) is replayed too: join sides exclude frames with
    * doc-freq > 60, set sizes stay unpruned — the exact semantics
    * videoDedupPairs implements. */
  private val VideoFpCtes =
    """d AS (SELECT doc_id, (doc_id % 8)::BIGINT AS g
               FROM documents WHERE doc_id < 400),
         fr AS (SELECT d.doc_id,
                  CASE WHEN d.doc_id % 3 = 0 AND k.k = 2
                       THEN 2000 + d.doc_id ELSE d.g*8 + k.k END AS s
                FROM d CROSS JOIN unnest(range(0, 5)) AS k(k)),
         fb AS (SELECT doc_id, s, j.j,
                  (CASE WHEN ((s*131 + j.j*37) % 97) < 41
                   THEN 1 ELSE 0 END)::BIGINT AS bit
                FROM fr CROSS JOIN unnest(range(0, 63)) AS j(j)),
         fh AS (SELECT DISTINCT doc_id, dhash FROM (
                  SELECT doc_id, s, sum(bit << j)::BIGINT AS dhash
                  FROM fb GROUP BY doc_id, s)),
         sz AS (SELECT doc_id, count(*) AS n FROM fh GROUP BY doc_id),
         stopf AS (SELECT dhash FROM fh GROUP BY dhash
                   HAVING count(*) > 60),
         fhp AS (SELECT doc_id, dhash FROM fh
                 WHERE dhash NOT IN (SELECT dhash FROM stopf)),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  count(*)::BIGINT AS n_shared
                FROM fhp a JOIN fhp b
                  ON a.dhash = b.dhash AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
         vpairs AS (SELECT p.id_a, p.id_b, p.n_shared,
                      round(p.n_shared::DOUBLE / (sa.n + sb.n - p.n_shared),
                        4) AS jaccard
                    FROM pr p JOIN sz sa ON sa.doc_id = p.id_a
                    JOIN sz sb ON sb.doc_id = p.id_b
                    WHERE round(p.n_shared::DOUBLE
                        / (sa.n + sb.n - p.n_shared), 4) >= 0.5)"""

  /** The sk_hll oracles' two keyed sets, one `what` each: the corpus
    * vocabulary (linear-counting branch) and the doc-id set (raw
    * harmonic branch). */
  private val HllKeyedCte =
    """keyed AS (
           SELECT 'vocab' AS what,
             unnest(string_split_regex(trim(text), '\s+')) AS k
           FROM documents
           UNION ALL
           SELECT 'doc_ids' AS what, doc_id::VARCHAR AS k
           FROM documents)"""

  /** The HLL estimate tail of the sk_hll oracles (m = 512) over
    * `agg(what, present, sp)`: linear counting or the raw harmonic
    * estimate, joined to the exact distinct count of each keyed set. A
    * set with no rows has no `agg` row, so it reports nothing. */
  private val HllEstimateSql =
    """est AS (
           SELECT what, (512 - present) AS v_zero,
             sp + (512 - present) AS sum_inv,
             CASE WHEN (0.7213 / (1 + 1.079/512)) * 512 * 512
                         / (sp + (512 - present)) <= 2.5 * 512
                       AND present < 512
                  THEN 512 * ln(512.0 / (512 - present))
                  ELSE (0.7213 / (1 + 1.079/512)) * 512 * 512
                         / (sp + (512 - present)) END AS e
           FROM agg),
         x AS (SELECT what, count(DISTINCT k) AS exact_distinct
               FROM keyed GROUP BY what)
         SELECT est.what, 512::BIGINT AS m, v_zero::BIGINT AS v_zero,
           round(sum_inv, 6) AS sum_inv, round(e, 2) AS est_hll,
           exact_distinct::BIGINT AS exact_distinct,
           round(abs(e - exact_distinct) / exact_distinct * 100, 2)
             AS err_pct
         FROM est JOIN x USING (what) ORDER BY what"""

  /** The as-of oracles' sides: events with µs timestamps `e`, purchases
    * `p`, and views `v` made unique per (user, us) — [[asofSides]]. */
  private val AsofCtes =
    """e AS (SELECT event_id, user_id, event_type, value,
             epoch_ns(ts) // 1000 AS us
           FROM events),
         p AS (SELECT user_id, event_id, us FROM e
               WHERE event_type = 'purchase'),
         v AS (SELECT user_id, us, max(value) AS view_value FROM e
               WHERE event_type = 'view' GROUP BY 1, 2)"""

  /** DuckDB's native ASOF join of purchases to views, `cmp` being `>=`
    * (backward: latest view at or before) or `<=` (forward). */
  private def asofOracleSql(cmp: String): String =
    s"""WITH $AsofCtes
       SELECT p.user_id, p.event_id, p.us, v.view_value AS asof_view_value
       FROM p ASOF LEFT JOIN v
         ON p.user_id = v.user_id AND p.us $cmp v.us
       ORDER BY p.event_id"""

  /** Shared IVF CTE base: label centroids (rounded 6dp), nearest-centroid
    * assignment, and the RANKED probe list (rn kept so callers can slice
    * any nProbe out of one chain — the recall sweep uses that). */
  private def ivfBaseCtes: String =
    """emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       sums AS (SELECT label, d.d AS pos,
                  sum(embedding[d.d+1]::DOUBLE) AS s, count(*) AS n
                FROM embeddings CROSS JOIN unnest(range(0,64)) AS d(d)
                GROUP BY label, d.d),
       cent AS (SELECT label AS cid, list(round(s / n, 6) ORDER BY pos) AS c
                FROM sums GROUP BY label),
       assign AS (SELECT vec_id, cid FROM (
           SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.e, c.c) DESC, c.cid) AS rn
           FROM emb e CROSS JOIN cent c) WHERE rn = 1),
       probes_ranked AS (SELECT vec_id AS query_id, cid, rn FROM (
           SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.e, c.c) DESC, c.cid) AS rn
           FROM emb e CROSS JOIN cent c WHERE e.vec_id < 8))"""

  /** CTE chain: IVF over label centroids (rounded 6dp), nearest-centroid
    * assignment, nProbe probes, exact cosine re-rank — the oracle twin of
    * Similarity.ivfTopK over Pipeline.ivfCentroids. */
  private def ivfCtes(nProbe: Int): String =
    s"""$ivfBaseCtes,
       probes AS (SELECT query_id, cid FROM probes_ranked
                  WHERE rn <= $nProbe),
       ivf_cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
                    FROM probes p JOIN assign a ON a.cid = p.cid
                    WHERE a.vec_id != p.query_id),
       ivf_scored AS (SELECT query_id, neighbor_id,
                        list_cosine_similarity(eq.e, ec.e) AS cos
                      FROM ivf_cand
                      JOIN emb eq ON eq.vec_id = ivf_cand.query_id
                      JOIN emb ec ON ec.vec_id = ivf_cand.neighbor_id),
       ivf_ranked AS (SELECT query_id, neighbor_id, cos,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rn
                      FROM ivf_scored)"""

  /** Recall oracles' shared tail over `emb` (the caller's chain defines
    * it): [[bruteCtes]], then recall@5 of `found(query_id, neighbor_id)`
    * grouped by `key` and reported as `keyName`. */
  private def recallSql(found: String, key: String, keyName: String,
                        queryFilter: String = ""): String =
    s"""${bruteCtes(queryFilter)}
       SELECT $key AS $keyName, $RecallCols
       FROM brute b LEFT JOIN $found l
         ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
       GROUP BY $key ORDER BY $keyName"""

  /** `brute(query_id, neighbor_id)`: the exact cosine top-5 of every
    * query vector of `emb` (`queryFilter` restricts the query side, as a
    * `WHERE` on `q`). */
  private def bruteCtes(queryFilter: String): String =
    s"""${cosineRankCtes("b", "emb", "e", queryFilter)},
       brute AS (SELECT query_id, neighbor_id FROM b_ranked WHERE rn <= 5)"""

  /** Recall@5 aggregates over brute rows `b` LEFT JOINed to the found
    * rows `l`. */
  private val RecallCols =
    """count(*)::BIGINT AS k,
         sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_hit,
         round(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0
           END)::DOUBLE / count(*), 4) AS recall"""

  /** `${name}_ranked(query_id, neighbor_id, cos, rn)`: every vector of
    * `rel` ranked by exact cosine of its `v` column to each query vector
    * (`queryFilter` restricts the query side), id tie-break — the
    * bruteForceTopK twin. */
  private def cosineRankCtes(name: String, rel: String, v: String,
                             queryFilter: String = ""): String =
    s"""${name}_scored AS (SELECT q.vec_id AS query_id,
                        c.vec_id AS neighbor_id,
                        list_cosine_similarity(q.$v, c.$v) AS cos
                      FROM $rel q JOIN $rel c ON c.vec_id != q.vec_id
                      $queryFilter),
       ${name}_ranked AS (SELECT query_id, neighbor_id, cos,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rn
                      FROM ${name}_scored)"""

  /** The query side of every probed-index oracle: vec_id < 8, as the
    * Spark queries' `e.filter(col("vec_id") < 8)`. */
  private val ProbeQueries = "WHERE q.vec_id < 8"

  /** The recall sweep's probe levels ([[SweepLevels]]) as `sweep`, and
    * `sweep_cand(n_probe, query_id, neighbor_id)`: every level's IVF
    * candidates from the ranked probe list ([[ivfBaseCtes]]). */
  private val SweepCtes =
    s"""sweep AS (SELECT unnest(${SweepLevels.mkString("[", ", ", "]")})
                   AS n_probe),
       sweep_cand AS (SELECT DISTINCT s.n_probe, p.query_id,
                        a.vec_id AS neighbor_id
                      FROM sweep s JOIN probes_ranked p ON p.rn <= s.n_probe
                      JOIN assign a ON a.cid = p.cid
                      WHERE a.vec_id != p.query_id)"""

  /** Recall@5 per probe level: `scored(n_probe, query_id, neighbor_id,
    * <score>)` is cut to each level's top 5 by `score` (id tie-break)
    * and checked against the exact top-5 of the 8 probe queries. */
  private def sweepRecallSql(scored: String, score: String): String =
    s"""lvl_ranked AS (SELECT n_probe, query_id, neighbor_id,
                       row_number() OVER (PARTITION BY n_probe, query_id
                         ORDER BY $score DESC, neighbor_id ASC) AS rn
                     FROM $scored),
       lvl_top AS (SELECT n_probe, query_id, neighbor_id FROM lvl_ranked
                   WHERE rn <= 5),
       ${bruteCtes(ProbeQueries)}
       SELECT s.n_probe::BIGINT AS n_probe, $RecallCols
       FROM sweep s CROSS JOIN brute b LEFT JOIN lvl_top l
         ON l.n_probe = s.n_probe AND l.query_id = b.query_id
           AND l.neighbor_id = b.neighbor_id
       GROUP BY s.n_probe::BIGINT ORDER BY n_probe"""

  /** The shortlist re-rank: the top [[PqShortlist]] rows of an ADC
    * ranking `ranked(query_id, neighbor_id, rn)` re-scored by exact
    * cosine, cut to `reranked(query_id, neighbor_id)`, the top 5. */
  private def rerankCtes(ranked: String): String =
    s"""rr_cand AS (SELECT query_id, neighbor_id FROM $ranked
                   WHERE rn <= $PqShortlist),
       rr_scored AS (SELECT r.query_id, r.neighbor_id,
                       list_cosine_similarity(qe.e, ce.e) AS cos
                     FROM rr_cand r JOIN emb qe ON qe.vec_id = r.query_id
                     JOIN emb ce ON ce.vec_id = r.neighbor_id),
       rr_ranked AS (SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rn
                     FROM rr_scored),
       reranked AS (SELECT query_id, neighbor_id FROM rr_ranked
                    WHERE rn <= 5)"""

  private val PqTop5Sql =
    s"""WITH ${pqCtes(PqM, PqKsub, PqIters)}
       SELECT query_id, neighbor_id, cosine
       FROM pranked WHERE rn <= 5 ORDER BY query_id, neighbor_id"""

  private val ResidualTop5Sql =
    s"""WITH $ivfBaseCtes,
       ${residualIvfPqCtes(PqM, PqKsub, PqIters, nProbe = 3)}
       SELECT query_id, neighbor_id, cosine
       FROM rranked WHERE rn <= 5 ORDER BY query_id, neighbor_id"""

  /** Minhash signature CTEs over the documents table: same
    * universal-hash coefficients (embedded as SQL literals from
    * Dedup.hashCoeffs) and band bucketing as the Spark side, ending at
    * `sig(doc_id, sig)` and `bands(doc_id, band, bucket)`. */
  private def minhashSigCtes(numHashes: Int, bands: Int,
                             seed: Long): String = {
    val coeffs = Dedup.hashCoeffs(numHashes, seed)
    val aList = coeffs.map(_._1).mkString("[", ",", "]")
    val bList = coeffs.map(_._2).mkString("[", ",", "]")
    val rpb = numHashes / bands
    s"""sh AS ($ShingleSql),
       hs AS (SELECT doc_id, ${hash31Sql("shingle")} AS h FROM sh),
       m AS (SELECT doc_id, i.i AS i,
               min(($aList[i.i+1] * h + $bList[i.i+1]) % 2147483647) AS mv
             FROM hs CROSS JOIN unnest(range(0,$numHashes)) AS i(i)
             GROUP BY doc_id, i.i),
       sig AS (SELECT doc_id, list(mv ORDER BY i) AS sig FROM m
               GROUP BY doc_id),
       bands AS (SELECT doc_id, b.b AS band,
                   md5(array_to_string(sig[b.b*$rpb+1 : b.b*$rpb+$rpb], ','))
                     AS bucket
                 FROM sig CROSS JOIN unnest(range(0,$bands)) AS b(b))"""
  }

  /** Signature-agreement estimate of the pair (sa.sig, sb.sig). */
  private def sigAgreeSql(numHashes: Int): String =
    s"""len(list_filter(range(0,$numHashes),
           i -> sa.sig[i+1] = sb.sig[i+1]))::DOUBLE / $numHashes"""

  /** Minhash oracle: [[minhashSigCtes]], bucket-collision candidates,
    * and the signature-agreement estimate. */
  private def minhashOracleSql(numHashes: Int, bands: Int, seed: Long,
                               threshold: Double): String =
    s"""WITH ${minhashSigCtes(numHashes, bands, seed)},
       cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                FROM bands l JOIN bands r
                  ON l.band = r.band AND l.bucket = r.bucket
                     AND l.doc_id < r.doc_id),
       est AS (SELECT id_a, id_b, ${sigAgreeSql(numHashes)} AS ej
               FROM cand
               JOIN sig sa ON sa.doc_id = cand.id_a
               JOIN sig sb ON sb.doc_id = cand.id_b)
       SELECT id_a, id_b, round(ej, 4) AS est_jaccard
       FROM est WHERE ej >= $threshold ORDER BY id_a, id_b"""

  /** Incremental-dedup oracle: the batch (top 1/5 of doc_ids) against the
    * corpus (bottom 4/5). The split point is PROPORTIONAL —
    * (max(doc_id)+1)*4/5 — so the daily-ingest shape (small batch, large
    * landed corpus) holds at every scale factor; a fixed id cut would
    * invert it at sf0.1 (batch 4600 vs corpus 400). [[minhashSigCtes]];
    * exact stage by content md5, near stage by bucket-collision
    * candidates vs corpus (any) and vs smaller-id exact-surviving batch
    * docs (greedy keep-first). */
  private def incrementalOracleSql(numHashes: Int, bands: Int, seed: Long,
                                   threshold: Double): String = {
    val splitId = "(SELECT (max(doc_id)+1)*4//5 FROM documents)"
    s"""WITH ${minhashSigCtes(numHashes, bands, seed)},
       bexact AS (
         SELECT d.doc_id FROM documents d
         WHERE d.doc_id >= $splitId
           AND NOT EXISTS (SELECT 1 FROM documents c
             WHERE c.doc_id < $splitId AND md5(c.text) = md5(d.text))
           AND NOT EXISTS (SELECT 1 FROM documents b2
             WHERE b2.doc_id >= $splitId AND b2.doc_id < d.doc_id
               AND md5(b2.text) = md5(d.text))),
       candc AS (
         SELECT DISTINCT l.doc_id AS id_b, r.doc_id AS id_c
         FROM bands l
         JOIN bexact be ON be.doc_id = l.doc_id
         JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
         WHERE r.doc_id < $splitId),
       dropc AS (
         SELECT DISTINCT id_b AS doc_id FROM candc
         JOIN sig sa ON sa.doc_id = candc.id_b
         JOIN sig sb ON sb.doc_id = candc.id_c
         WHERE ${sigAgreeSql(numHashes)} >= $threshold),
       candb AS (
         SELECT DISTINCT l.doc_id AS id_b, r.doc_id AS id_a
         FROM bands l
         JOIN bexact bl ON bl.doc_id = l.doc_id
         JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
         JOIN bexact br ON br.doc_id = r.doc_id
         WHERE r.doc_id < l.doc_id),
       dropb AS (
         SELECT DISTINCT id_b AS doc_id FROM candb
         JOIN sig sa ON sa.doc_id = candb.id_b
         JOIN sig sb ON sb.doc_id = candb.id_a
         WHERE ${sigAgreeSql(numHashes)} >= $threshold)
       SELECT doc_id FROM bexact
       WHERE doc_id NOT IN (SELECT doc_id FROM dropc)
         AND doc_id NOT IN (SELECT doc_id FROM dropb)
       ORDER BY doc_id"""
  }

  /** Simhash oracle: per-token 64-bit md5 hash (two 32-bit halves), bit
    * majority vote, 16-bit chunk pigeonhole join, hamming <= max. */
  private def simhashOracleSql(maxHamming: Int): String = {
    val sums = (0 until 64).map { j =>
      val half = if (j < 32) "lo" else "hi"
      s"sum(($half >> ${j % 32}) & 1) AS s$j"
    }.mkString(", ")
    val chunks = (0 until 4).map { c =>
      val bits = (0 until 16).map { i =>
        s"(CASE WHEN 2*s${16 * c + i} > n THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
      s"($bits)::BIGINT AS c$c"
    }.mkString(", ")
    s"""WITH tok AS (
         SELECT doc_id, unnest(list_distinct(
           string_split_regex(trim(text), '\\s+'))) AS tok
         FROM documents),
       hs AS (SELECT doc_id,
                ('0x' || substr(md5(tok),1,8))::BIGINT AS hi,
                ('0x' || substr(md5(tok),9,8))::BIGINT AS lo
              FROM tok),
       votes AS (SELECT doc_id, count(*) AS n, $sums FROM hs
                 GROUP BY doc_id),
       fp AS (SELECT doc_id, $chunks FROM votes),
       chunks AS (SELECT doc_id, i.i AS chunk_idx, [c0,c1,c2,c3][i.i+1]
                    AS chunk
                  FROM fp CROSS JOIN unnest(range(0,4)) AS i(i)),
       cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                FROM chunks l JOIN chunks r
                  ON l.chunk_idx = r.chunk_idx AND l.chunk = r.chunk
                     AND l.doc_id < r.doc_id),
       ham AS (SELECT id_a, id_b,
                 (bit_count(xor(a.c0,b.c0)) + bit_count(xor(a.c1,b.c1)) +
                  bit_count(xor(a.c2,b.c2)) + bit_count(xor(a.c3,b.c3)))::INT
                   AS hamming
               FROM cand JOIN fp a ON a.doc_id = cand.id_a
                         JOIN fp b ON b.doc_id = cand.id_b)
       SELECT id_a, id_b, hamming FROM ham
       WHERE hamming <= $maxHamming ORDER BY id_a, id_b"""
  }

  /** Shared CTE block: md5-derived hyperplanes (DuckDB twin of
    * Dedup.md5Planes) + corpus embeddings + per-(vec, table) buckets.
    * `bitsSql` is any scalar SQL expression for the bucket width — a
    * literal, or [[autoBitsSql]] for the corpus-size-derived value. */
  private def bucketsCteSql(tables: Int, bitsSql: String): String =
    s"""nb AS (SELECT ($bitsSql)::BIGINT AS bits),
       planes AS (
         SELECT tb.t AS t, tb.b AS b, list(tb.pv ORDER BY tb.d) AS plane
         FROM (
           SELECT t.t, b.b, d.d,
             ((('0x' || substr(md5('p:' || t.t::VARCHAR || ':' ||
                 b.b::VARCHAR || ':' || d.d::VARCHAR),1,8))::BIGINT
               % 1000001 - 500000) / 500000.0) AS pv
           FROM unnest(range(0,$tables)) AS t(t)
           CROSS JOIN unnest(range(0,(SELECT bits FROM nb))) AS b(b)
           CROSS JOIN unnest(range(0,64)) AS d(d)) tb
         GROUP BY tb.t, tb.b),
       emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       buckets AS (
         SELECT emb.vec_id, p.t AS tbl,
           sum(CASE WHEN list_dot_product(emb.e, p.plane) > 0
               THEN (1::BIGINT << p.b) ELSE 0 END)::BIGINT AS bucket
         FROM emb CROSS JOIN planes p
         GROUP BY emb.vec_id, p.t)"""

  /** DuckDB twin of Similarity.autoBits(count(*)): smallest bits with
    * n/2^bits <= Similarity.LshTargetBucket, floored at 2 — written as an
    * integer bit-length count (no floating log2, so both engines agree
    * exactly at every n). */
  private def autoBitsSql: String =
    s"""GREATEST(2, (SELECT count(*) FROM range(0,63) rr(b)
         WHERE (1::BIGINT << rr.b::INT) <=
           GREATEST(1, ((SELECT count(*) FROM embeddings) - 1)
             // ${Similarity.LshTargetBucket})))"""

  /** DuckDB twin of Similarity.kmeans: the same iterations unrolled as
    * CTEs — lowest-id init, cosine argmax assignment, 6dp-rounded means
    * (rounding per iteration is what makes both engines walk the same
    * trajectory despite aggregation-order ulps). */
  /** The WITH-chain of a DuckDB unrolling of [[Similarity.kmeans]] —
    * emb, cent0, per-iteration assign/mean CTEs, and `asg_final`, the
    * final (vec_id, cid) assignment against `cent$iters`. Shared prefix
    * of the `sim_kmeans` and `dd_semantic` oracles so the two can never
    * disagree about what "the same k-means" means. */
  private def kmeansCtes(k: Int, iters: Int,
                         sampleN: Option[Int] = None): String = {
    def asgSql(name: String, centName: String, rel: String) =
      s"""$name AS (SELECT vec_id, cid FROM (
           SELECT $rel.vec_id, p.cid,
             row_number() OVER (PARTITION BY $rel.vec_id
               ORDER BY list_cosine_similarity($rel.e, p.c) DESC, p.cid)
               AS rn
           FROM $rel CROSS JOIN $centName p) WHERE rn = 1)"""
    // with sampleN, training iterates over the md5-rank sample only
    // (kmeansSampled's train set); the final assignment is always the
    // FULL corpus — the one corpus pass the sampled trainer keeps
    val rel = if (sampleN.isDefined) "train" else "emb"
    val sb = new StringBuilder
    sb ++= s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e
         FROM embeddings)"""
    sampleN.foreach { n =>
      sb ++= s""",
       train AS (SELECT vec_id, e FROM emb
                 ORDER BY md5('kms:' || vec_id::VARCHAR) ASC, vec_id ASC
                 LIMIT $n)"""
    }
    sb ++= s""",
       cent0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT
                   AS cid,
                   list_transform(e, x -> round(x, 6)) AS c
                 FROM (SELECT vec_id, e FROM $rel ORDER BY vec_id
                       LIMIT $k))"""
    for (i <- 1 to iters) {
      sb ++= s""",
       ${asgSql(s"asg$i", s"cent${i - 1}", rel)},
       sums$i AS (SELECT a.cid, d.d AS pos, sum($rel.e[d.d+1]) AS s,
                    count(*) AS n
                  FROM asg$i a JOIN $rel ON $rel.vec_id = a.vec_id
                  CROSS JOIN unnest(range(0,64)) AS d(d)
                  GROUP BY a.cid, d.d),
       cent$i AS (SELECT cid, list(round(s / n, 6) ORDER BY pos) AS c
                  FROM sums$i GROUP BY cid)"""
    }
    sb ++= s""",
       ${asgSql("asg_final", s"cent$iters", "emb")}"""
    sb.toString
  }

  /** Unrolled greedy-MMR CTE chain replaying
    * [[Similarity.mmrTopK]]'s trajectory step by step: candidate
    * membership ranks by RAW cosine (bruteForceTopK's cut), every
    * cosine compared thereafter is floor-rounded to 4dp with id
    * tie-breaks, and the MMR combine runs in exact integer
    * ten-thousandths with an integer lambda — the twin of
    * `Similarity.mmrTopK`'s greedy score, so decimal .00005 midpoints
    * (exactly reachable from 4dp-quantized inputs) are decided by
    * identical integer arithmetic instead of 1-ulp double luck. */
  private def mmrOracleSql(k: Int, topN: Int, lambda: Double,
                           nQueries: Int = 8): String = {
    def r4(x: String) = s"floor(($x) * 10000 + 0.5) / 10000"
    // exact-integer MMR combine, twin of Similarity.mmrTopK's greedy score:
    // rel/max_sim are 1e-4 multiples, so the decimal-midpoint cases the
    // double form left to 1-ulp engine luck are decided in integer
    // arithmetic both engines evaluate identically
    val lamI = math.round(lambda * 10000).toInt
    val mmrExpr = s"floor(($lamI * round(rel * 10000) - " +
      s"${10000 - lamI} * round(max_sim * 10000) + 5000) / 10000) / 10000"
    val sb = new StringBuilder
    // `v` and `cand` are referenced by EVERY unrolled stage (and each
    // stage's NOT EXISTS touches the previous selection twice) —
    // DuckDB may inline non-materialized CTEs and re-evaluate the full
    // corpus window once per reference, observed as an OOM at k=8 over
    // the sf0.1 table under memory pressure. AS MATERIALIZED pins each
    // to one evaluation — the same shape the Spark side gets from
    // cache()ing the candidate frame. Each `sel$i` is read twice by the
    // next stage (its join and its NOT EXISTS), so an inlined chain
    // re-evaluates every earlier step and the cost roughly triples per
    // step (k=8 ran out of memory even at sf0.001); materializing each
    // selection keeps the unrolling linear in k.
    sb ++= s"""WITH v AS MATERIALIZED (
                  SELECT vec_id, embedding::DOUBLE[] AS e
                  FROM embeddings),
       q AS (SELECT vec_id AS query_id, e FROM v
             WHERE vec_id < $nQueries),
       ranked AS (
         SELECT q.query_id, c.vec_id AS cand_id,
           list_cosine_similarity(q.e, c.e) AS cos,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.e, c.e) DESC,
                      c.vec_id ASC) AS rn
         FROM q JOIN v c ON c.vec_id != q.query_id),
       cand AS MATERIALIZED (
         SELECT query_id, cand_id, ${r4("cos")} AS rel
         FROM ranked WHERE rn <= $topN),
       sel1 AS MATERIALIZED (SELECT query_id, cand_id, step, mmr FROM (
           SELECT query_id, cand_id, 1 AS step, rel AS mmr,
             row_number() OVER (PARTITION BY query_id
               ORDER BY rel DESC, cand_id ASC) AS prn
           FROM cand) WHERE prn = 1)"""
    var prev = "sel1"
    for (i <- 2 to k) {
      sb ++= s""",
       m$i AS (
         SELECT c.query_id, c.cand_id, c.rel,
           max(${r4("list_cosine_similarity(cv.e, sv.e)")}) AS max_sim
         FROM cand c
         JOIN v cv ON cv.vec_id = c.cand_id
         JOIN $prev s ON s.query_id = c.query_id
         JOIN v sv ON sv.vec_id = s.cand_id
         WHERE NOT EXISTS (SELECT 1 FROM $prev x
           WHERE x.query_id = c.query_id AND x.cand_id = c.cand_id)
         GROUP BY c.query_id, c.cand_id, c.rel),
       p$i AS (
         SELECT query_id, cand_id, $i AS step, $mmrExpr AS mmr,
           row_number() OVER (PARTITION BY query_id
             ORDER BY $mmrExpr DESC, cand_id ASC) AS prn
         FROM m$i),
       sel$i AS MATERIALIZED (SELECT query_id, cand_id, step, mmr FROM $prev
                 UNION ALL
                 SELECT query_id, cand_id, step, mmr FROM p$i
                 WHERE prn = 1)"""
      prev = s"sel$i"
    }
    sb ++= s"""
       SELECT query_id, cand_id, step, mmr FROM $prev
       ORDER BY query_id, step"""
    sb.toString
  }

  /** Unrolled-CTE replay of [[graft.operators.Bpe.train]]'s merge
    * trajectory: w0/s0 rebuild the word-frequency dict with the same
    * ASCII-first normalization, then each iteration i re-derives pair
    * counts (p_i), the greedy argmax with the (count desc, pair asc)
    * tie-break (b_i), and the padded-double-space plain-replace merge
    * application (s_i) — plain `replace` because RE2 has no
    * lookbehind, and left-to-right non-overlapping replace IS the BPE
    * merge rule (see Bpe.applyMerge). */
  private def bpeCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS (
         SELECT word, count(*)::BIGINT AS cnt FROM (
           SELECT unnest(string_split_regex(trim(lower(
             regexp_replace(text, '[^A-Za-z ]+', ' ', 'g'))), ' +'))
             AS word
           FROM documents)
         WHERE word <> '' GROUP BY word),
       s0 AS (SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS ws,
                cnt
              FROM w0)"""
    for (i <- 1 to nMerges) {
      sb ++= s""",
       p$i AS (SELECT unnest(list_transform(range(1, len(l)),
                 j -> l[j] || ' ' || l[j+1])) AS pair, cnt
               FROM (SELECT string_split(ws, ' ') AS l, cnt
                     FROM s${i - 1})),
       b$i AS (SELECT $i AS step, split_part(pair, ' ', 1) AS lft,
                 split_part(pair, ' ', 2) AS rgt,
                 sum(cnt)::BIGINT AS pair_count
               FROM p$i GROUP BY pair
               ORDER BY pair_count DESC, pair ASC LIMIT 1),
       s$i AS (SELECT trim(replace(replace(
                 '  ' || replace(ws, ' ', '  ') || '  ',
                 ' ' || b.lft || '  ' || b.rgt || ' ',
                 ' ' || b.lft || b.rgt || ' '), '  ', ' ')) AS ws, cnt
               FROM s${i - 1}, b$i b)"""
    }
    sb.toString
  }

  private def bpeOracleSql(n: Int): String =
    s"""${bpeCtes(n)}
       SELECT step, lft, rgt, lft || rgt AS merged, pair_count
       FROM (${(1 to n).map(i => s"SELECT * FROM b$i")
        .mkString(" UNION ALL ")})
       ORDER BY step"""

  /** Encode CTEs shared by the token-count oracles: the merge chain
    * folded over each DISTINCT word (vocab) and joined back to per-doc
    * occurrence counts — the exact shape of Bpe.encodeTokenCounts.
    * Yields `btok(doc_id, n_tokens, n_words)`. */
  private def bpeEncodeCtes(n: Int): String = {
    val chain = (1 to n).foldLeft(
      """trim(regexp_replace(word, '(.)', '\1 ', 'g'))""") { (acc, i) =>
      s"""trim(replace(replace('  ' || replace($acc, ' ', '  ') || '  ',
           ' ' || b$i.lft || '  ' || b$i.rgt || ' ',
           ' ' || b$i.lft || b$i.rgt || ' '), '  ', ' '))"""
    }
    s"""occ AS (SELECT doc_id, word, count(*)::BIGINT AS k FROM (
           SELECT doc_id, unnest(string_split_regex(trim(lower(
             regexp_replace(text, '[^A-Za-z ]+', ' ', 'g'))), ' +'))
             AS word
           FROM documents)
         WHERE word <> '' GROUP BY doc_id, word),
       vocab AS (SELECT word, len(string_split($chain, ' ')) AS n_tok
                 FROM (SELECT DISTINCT word FROM occ) v0,
                   ${(1 to n).map(i => s"b$i").mkString(", ")}),
       btok AS (SELECT o.doc_id, sum(o.k * v.n_tok)::BIGINT AS n_tokens,
           sum(o.k)::BIGINT AS n_words
         FROM occ o JOIN vocab v USING (word)
         GROUP BY o.doc_id)"""
  }

  private def bpeTokensOracleSql(n: Int): String =
    s"""${bpeCtes(n)},
       ${bpeEncodeCtes(n)}
       SELECT doc_id, n_tokens, n_words FROM btok ORDER BY doc_id"""

  private def kmeansOracleSql(k: Int, iters: Int,
                              sampleN: Option[Int] = None): String =
    s"""${kmeansCtes(k, iters, sampleN)},
       cnt AS (SELECT cid, count(*) AS n_members FROM asg_final
               GROUP BY cid)
       SELECT c.cid, round(c.c[1], 6) AS c1, round(c.c[2], 6) AS c2,
         coalesce(cnt.n_members, 0) AS n_members
       FROM cent$iters c LEFT JOIN cnt ON cnt.cid = c.cid
       ORDER BY c.cid"""

  /** DuckDB replay of [[Dedup.semanticDedup]]: the k-means chain above,
    * per-vector centroid similarity, within-cluster pairs at `threshold`,
    * and the deterministic (cent_cos, id)-max drop rule. */
  private def semanticOracleSql(k: Int, iters: Int,
                                threshold: Double): String =
    s"""${kmeansCtes(k, iters)},
       cs AS (SELECT a.vec_id, a.cid,
                list_cosine_similarity(emb.e, c.c) AS cc
              FROM asg_final a
              JOIN emb ON emb.vec_id = a.vec_id
              JOIN cent$iters c ON c.cid = a.cid),
       pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                   x.cc AS cc_a, y.cc AS cc_b
                 FROM cs x JOIN cs y
                   ON x.cid = y.cid AND x.vec_id < y.vec_id
                 JOIN emb ea ON ea.vec_id = x.vec_id
                 JOIN emb eb ON eb.vec_id = y.vec_id
                 WHERE list_cosine_similarity(ea.e, eb.e) >= $threshold),
       dropped AS (SELECT DISTINCT
                     CASE WHEN (cc_a, id_a) > (cc_b, id_b)
                          THEN id_a ELSE id_b END AS vec_id
                   FROM pairs)
       SELECT cs.vec_id, cs.cid, round(cs.cc, 4) AS cent_cos,
         (d.vec_id IS NULL) AS kept
       FROM cs LEFT JOIN dropped d ON d.vec_id = cs.vec_id
       ORDER BY cs.vec_id"""

  /** DuckDB unrolling of [[TextAnalysis.qualityMetrics]]/score over
    * `rel(doc_id, text)`: `m` tokenizes, `base` holds the metrics and
    * `qual(doc_id, quality)` the score. Every oracle that reports, ranks
    * or gates on quality reads these, so "quality" can never mean two
    * different formulas in two oracles. */
  private def qualityCtes(rel: String): String =
    raw"""m AS (
           SELECT doc_id, text,
             string_split_regex(trim(text), '\s+') AS toks,
             length(text) AS len
           FROM $rel),
         base AS (
           SELECT doc_id,
             len(toks)::BIGINT AS n_tokens,
             round(length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE /
               greatest(len(toks), 1), 4) AS mean_token_len,
             round(len(list_filter(toks, x -> list_contains(
                 ['the','a','an','and','or','of','to','in','is','it','that',
                  'for','on','with','as','at','by','this'], lower(x))))::DOUBLE /
               greatest(len(toks), 1), 4) AS stopword_ratio,
             round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE /
               greatest(len, 1), 4) AS alpha_ratio,
             (CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.3 END)
               AS length_ok
           FROM m),
         qual AS (SELECT doc_id, $QualityExprSql AS quality FROM base)"""

  private val QualityExprSql =
    """floor((length_ok * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.3
             + alpha_ratio * 0.3) * 10000 + 0.5) / 10000"""

  /** DuckDB twin of [[TextAnalysis.langId]] over `rel(doc_id, text)`:
    * per-language stop-word shares `ls`, then the argmax (ties to the
    * earlier language, 'und' when no stop word hits) as
    * `lang(doc_id, lang_pred)`. */
  private def langIdCtes(rel: String): String =
    raw"""lt AS (SELECT doc_id,
                  string_split_regex(trim(lower(text)), '\s+') AS ltoks
                FROM $rel),
         ls AS (
           SELECT doc_id,
             len(list_filter(ltoks, x -> list_contains(
               ['der','die','das','und','ist','nicht','mit','ein'], x)))::DOUBLE
               / greatest(len(ltoks), 1) AS s_de,
             len(list_filter(ltoks, x -> list_contains(
               ['the','and','of','to','in','is','that','with'], x)))::DOUBLE
               / greatest(len(ltoks), 1) AS s_en,
             len(list_filter(ltoks, x -> list_contains(
               ['el','la','los','y','es','no','con','una'], x)))::DOUBLE
               / greatest(len(ltoks), 1) AS s_es,
             len(list_filter(ltoks, x -> list_contains(
               ['le','la','les','et','est','pas','avec','une'], x)))::DOUBLE
               / greatest(len(ltoks), 1) AS s_fr,
             len(list_filter(ltoks, x -> list_contains(
               ['的','是','不','了','在','和','有','我'], x)))::DOUBLE
               / greatest(len(ltoks), 1) AS s_zh
           FROM lt),
         lang AS (
           SELECT doc_id,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
                  WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
                  WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr'
                  ELSE 'zh' END AS lang_pred
           FROM ls)"""

  /** DuckDB twin of [[Dedup.repeatedSpans]] (n = 8, minDocs = 2): token
    * arrays `toks`, hashed 8-grams `grams`, the grams seen in >= 2 docs
    * `rep`, their positions `hits`, gaps-and-islands groups `isl`, and
    * the merged spans `sp(doc_id, span_start, span_end)`. */
  private val SpanCtes =
    """toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, i.i AS pos,
             md5(array_to_string(tk[(i.i + 1):(i.i + 8)], ' ')) AS g
           FROM toks
           CROSS JOIN unnest(range(0, greatest(0, len(tk) - 8 + 1))) AS i(i)),
         rep AS (
           SELECT g FROM grams GROUP BY g
           HAVING count(DISTINCT doc_id) >= 2),
         hits AS (SELECT doc_id, pos FROM grams JOIN rep USING (g)),
         isl AS (
           SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
           FROM hits),
         sp AS (
           SELECT doc_id, min(pos) AS span_start, max(pos) + 8 - 1 AS span_end
           FROM isl GROUP BY doc_id, grp)"""

  /** DuckDB twin of [[Dedup.cutSpans]]: every doc rebuilt from the tokens
    * outside the spans of `cut(doc_id, span_start, span_end)`, canonical
    * single-space joins, an empty string for a fully covered doc. */
  private def spanCutSql(cut: String): String =
    s"""kept AS (
           SELECT t.doc_id, i.i AS pos, t.tk[i.i + 1] AS tok
           FROM toks t
           CROSS JOIN unnest(range(0, len(t.tk))) AS i(i)
           WHERE NOT EXISTS (SELECT 1 FROM $cut
             WHERE $cut.doc_id = t.doc_id
               AND i.i BETWEEN $cut.span_start AND $cut.span_end)),
         rebuilt AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, coalesce(r.text, '') AS text
         FROM documents d LEFT JOIN rebuilt r USING (doc_id)
         ORDER BY d.doc_id"""

  private def embedLshOracleSql(tables: Int, bits: Int,
                                threshold: Double): String =
    s"""WITH ${bucketsCteSql(tables, bits.toString)},
       cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM buckets a JOIN buckets b
                  ON a.tbl = b.tbl AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id)
       SELECT id_a, id_b,
         round(list_cosine_similarity(ea.e, eb.e), 4) AS cosine
       FROM cand JOIN emb ea ON ea.vec_id = cand.id_a
                 JOIN emb eb ON eb.vec_id = cand.id_b
       WHERE list_cosine_similarity(ea.e, eb.e) >= $threshold
       ORDER BY id_a, id_b"""

  /** LSH top-k CTE chain shared by sim_topk_lsh and sim_recall; bits is
    * corpus-size-derived exactly as in Similarity.lshTopK's default, and
    * each query probes its own bucket (f = -1) plus every 1-bit-flip
    * neighbor, as Similarity.lshTopK does. */
  private def lshTopKCtes(tables: Int, k: Int): String =
    s"""${bucketsCteSql(tables, autoBitsSql)},
       qb AS (SELECT vec_id, tbl,
                CASE WHEN f.f < 0 THEN bucket
                     ELSE xor(bucket, (1::BIGINT << f.f::INT)) END AS bucket
              FROM buckets
              CROSS JOIN unnest(range(-1, (SELECT bits FROM nb))) AS f(f)),
       cand AS (SELECT DISTINCT qb.vec_id AS query_id,
                  cb.vec_id AS neighbor_id
                FROM buckets cb JOIN qb
                  ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
                WHERE cb.vec_id != qb.vec_id),
       scored AS (SELECT query_id, neighbor_id,
                    list_cosine_similarity(eq.e, ec.e) AS cos
                  FROM cand JOIN emb eq ON eq.vec_id = cand.query_id
                            JOIN emb ec ON ec.vec_id = cand.neighbor_id),
       lsh_ranked AS (SELECT query_id, neighbor_id, cos,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rn
                      FROM scored)"""

  val oracle: Map[String, String] = Map(
    "dd_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS doc_id,
           count(*) AS dup_count
         FROM documents GROUP BY 1 ORDER BY doc_id""",
    "dd_ngram_pairs" ->
      s"""WITH ${jaccardCtes("documents")}
         SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM jpairs
         ORDER BY id_a, id_b""",
    "dd_survivors" ->
      s"""WITH ${jaccardCtes("documents")}
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT id_b FROM jpairs)
         ORDER BY doc_id""",
    "dd_clusters" ->
      s"""WITH RECURSIVE $CcCtes
         SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
         FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "dd_survivors_exact" ->
      s"""WITH RECURSIVE $CcCtes
         ${componentMinSql("documents")}""",
    "dd_survivors_best" ->
      s"""WITH RECURSIVE $CcCtes
         SELECT doc_id FROM (
           SELECT d.doc_id,
             row_number() OVER (
               PARTITION BY coalesce(l.cluster, d.doc_id)
               ORDER BY length(d.text) DESC, d.doc_id) AS rn
           FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
         WHERE rn = 1 ORDER BY doc_id""",
    "dd_contam" ->
      s"""WITH sh AS ($ShingleSql),
         cs AS (SELECT doc_id AS corpus_id, shingle FROM sh
                WHERE doc_id >= 50),
         bs AS (SELECT doc_id AS bench_id, shingle FROM sh
                WHERE doc_id < 50),
         bsz AS (SELECT bench_id, count(*) AS bench_size FROM bs
                 GROUP BY 1),
         inter AS (SELECT cs.corpus_id, bs.bench_id, count(*) AS shared
                   FROM cs JOIN bs ON cs.shingle = bs.shingle
                   GROUP BY 1, 2)
         SELECT corpus_id, bench_id,
           round(shared::DOUBLE / bench_size, 4) AS containment
         FROM inter JOIN bsz USING (bench_id)
         WHERE shared::DOUBLE / bench_size >= 0.8
         ORDER BY corpus_id, bench_id""",
    "txt_repetition" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+')
             AS tk FROM documents),
         g3 AS (SELECT doc_id, list_filter(list_transform(
                  range(1, greatest(len(tk)-2, 1)+1),
                  i -> array_to_string(tk[i:i+2], ' ')),
                  g -> len(g) > 0) AS g
                FROM t),
         d3 AS (SELECT doc_id, CASE WHEN len(g) = 0 THEN 0.0
                  ELSE 1.0 - len(list_distinct(g))::DOUBLE / len(g) END
                  AS dup3 FROM g3),
         g2 AS (SELECT doc_id, unnest(list_filter(list_transform(
                  range(1, greatest(len(tk)-1, 1)+1),
                  i -> array_to_string(tk[i:i+1], ' ')),
                  g -> len(g) > 0)) AS bg
                FROM t),
         bc AS (SELECT doc_id, bg, count(*) AS c FROM g2 GROUP BY 1, 2),
         t2 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top2 FROM bc
                GROUP BY 1)
         SELECT d3.doc_id,
           floor(dup3 * 10000 + 0.5) / 10000 AS dup3_frac,
           floor(coalesce(top2, 0.0) * 10000 + 0.5) / 10000 AS top2_frac,
           (floor(dup3 * 10000 + 0.5) / 10000 <= 0.05 AND
            floor(coalesce(top2, 0.0) * 10000 + 0.5) / 10000 <= 0.07)
             AS keep
         FROM d3 LEFT JOIN t2 ON t2.doc_id = d3.doc_id
         ORDER BY d3.doc_id""",
    "txt_hash_topk" ->
      """WITH tok AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS t
           FROM documents),
         cnt AS (SELECT doc_id,
                   (('0x' || substr(md5('hf:' || t),1,8))::BIGINT % 64)
                     AS b,
                   count(*)::DOUBLE AS c
                 FROM tok GROUP BY 1, 2),
         ids AS (SELECT DISTINCT doc_id FROM cnt),
         fv AS (SELECT ids.doc_id,
                  list(coalesce(cnt.c, 0.0) ORDER BY i.i) AS v
                FROM ids CROSS JOIN range(0, 64) i(i)
                LEFT JOIN cnt ON cnt.doc_id = ids.doc_id AND cnt.b = i.i
                GROUP BY ids.doc_id),
         scored AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                      list_cosine_similarity(q.v, c.v) AS cos
                    FROM fv q JOIN fv c ON c.doc_id != q.doc_id
                    WHERE q.doc_id < 8),
         ranked AS (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rn
                    FROM scored)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine
         FROM ranked WHERE rn <= 3 ORDER BY query_id, neighbor_id""",
    "dd_spans" ->
      s"""WITH $SpanCtes
         SELECT doc_id, min(pos)::BIGINT AS span_start,
           (max(pos) + 8 - 1)::BIGINT AS span_end,
           count(*)::BIGINT AS n_grams
         FROM isl GROUP BY doc_id, grp
         ORDER BY doc_id, span_start""",
    "dd_spans_cut" -> s"WITH $SpanCtes, ${spanCutSql("sp")}",
    "dd_spans_keep1" ->
      s"""WITH $SpanCtes,
         spt AS (
           SELECT sp.doc_id, sp.span_start, sp.span_end,
             array_to_string(t.tk[(sp.span_start + 1):(sp.span_end + 1)], ' ')
               AS passage
           FROM sp JOIN toks t USING (doc_id)),
         cut AS (
           SELECT doc_id, span_start, span_end FROM (
             SELECT doc_id, span_start, span_end,
               row_number() OVER (PARTITION BY passage
                 ORDER BY doc_id, span_start) AS rn
             FROM spt)
           WHERE rn > 1),
         ${spanCutSql("cut")}""",
    "ds_mix" ->
      """SELECT doc_id, lang FROM documents
         WHERE (('0x' || substr(md5('mix:' || doc_id::VARCHAR),1,8))
                  ::BIGINT % 1000000)
           < CASE lang WHEN 'en' THEN 1.0 WHEN 'zh' THEN 0.5
                       WHEN 'de' THEN 0.25 ELSE 0.1 END * 1000000
         ORDER BY doc_id""",
    "ds_jsonl" ->
      """SELECT lang, count(*)::BIGINT AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len
         FROM documents GROUP BY lang ORDER BY lang""",
    "ds_upsert" ->
      """WITH batch AS (
           SELECT doc_id, text || ' [rev2]' AS text,
             length(text || ' [rev2]')::BIGINT AS n_chars
           FROM documents WHERE doc_id % 10 = 0),
         merged AS (
           SELECT doc_id, text, n_chars FROM documents
           WHERE doc_id % 10 <> 0
           UNION ALL SELECT doc_id, text, n_chars FROM batch)
         SELECT doc_id, n_chars, md5(text) AS content_hash
         FROM merged ORDER BY doc_id""",
    "ds_evolve" ->
      """WITH v1 AS (SELECT doc_id, text, lang FROM documents
                     WHERE doc_id % 2 = 0),
         v2 AS (SELECT doc_id, text, lang, source, n_chars
                FROM documents WHERE doc_id % 2 = 1),
         merged AS (
           SELECT doc_id, text, lang, NULL AS source, NULL AS n_chars
           FROM v1
           UNION ALL
           SELECT doc_id, text, lang, source, n_chars FROM v2)
         SELECT lang, count(*)::BIGINT AS n,
           count(source)::BIGINT AS n_v2,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars_v2,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len
         FROM merged GROUP BY lang ORDER BY lang""",
    "ds_cap_source" ->
      s"""WITH ${qualityCtes("documents")},
         ranked AS (SELECT d.doc_id, d.source, q.quality,
             row_number() OVER (PARTITION BY d.source
               ORDER BY q.quality DESC, d.doc_id ASC) AS rn
           FROM documents d JOIN qual q USING (doc_id))
         SELECT doc_id, source, quality FROM ranked
         WHERE rn <= 15 ORDER BY doc_id""",
    "ds_gate_quantile" ->
      s"""WITH ${qualityCtes("documents")},
         ranked AS (SELECT d.doc_id, d.lang,
             percent_rank() OVER (PARTITION BY d.lang
               ORDER BY q.quality ASC, d.doc_id ASC) AS pr
           FROM documents d JOIN qual q USING (doc_id))
         SELECT doc_id, lang FROM ranked
         WHERE pr >= 0.25 ORDER BY doc_id""",
    "ds_token_budget" ->
      s"""WITH ${qualityCtes("documents")},
         ranked AS (SELECT d.doc_id, d.lang, d.n_chars,
             coalesce(sum(d.n_chars) OVER (PARTITION BY d.lang
               ORDER BY q.quality DESC, d.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS spent
           FROM documents d JOIN qual q USING (doc_id))
         SELECT doc_id, lang, n_chars FROM ranked
         WHERE spent < 20000 ORDER BY doc_id""",
    "sim_mmr" -> mmrOracleSql(k = 4, topN = 12, lambda = 0.7),
    "sim_mmr8" -> mmrOracleSql(k = 8, topN = 12, lambda = 0.7,
      nQueries = 4),
    "sim_kmeans" -> kmeansOracleSql(k = 4, iters = 2),
    "sim_kmeans_sampled" -> kmeansOracleSql(k = 4, iters = 2,
      sampleN = Some(32)),
    "dd_semantic" -> semanticOracleSql(k = 4, iters = 2, threshold = 0.4),
    "sim_topk_ivf" ->
      s"""WITH ${ivfCtes(nProbe = 3)}
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine
         FROM ivf_ranked WHERE rn <= 5 ORDER BY query_id, neighbor_id""",
    "sim_recall_ivf" ->
      s"""WITH ${ivfCtes(nProbe = 3)},
         ivf AS (SELECT query_id, neighbor_id FROM ivf_ranked WHERE rn <= 5),
         ${recallSql("ivf", "b.query_id", "query_id", ProbeQueries)}""",
    "sim_recall_sweep" ->
      s"""WITH $ivfBaseCtes,
         $SweepCtes,
         sc AS (SELECT n_probe, query_id, neighbor_id,
                  list_cosine_similarity(eq.e, ec.e) AS cos
                FROM sweep_cand c JOIN emb eq ON eq.vec_id = c.query_id
                                  JOIN emb ec ON ec.vec_id = c.neighbor_id),
         ${sweepRecallSql("sc", "cos")}""",
    // the IVF-PQ sweep reuses the full-pair PQ replay (pscored — the
    // sim_topk_pq oracle's scoring CTE, no injected cand) and slices it
    // per probe level: candidates from probes_ranked at rn <= n_probe,
    // then the floor-4dp ADC rank WITHIN each (n_probe, query) slice —
    // exactly ivfPqTopK's restrict-then-rank order
    "sim_recall_sweep_ivfpq" ->
      s"""WITH $ivfBaseCtes,
         ${pqCtes(PqM, PqKsub, PqIters, emitEmb = false)},
         $SweepCtes,
         psel AS (SELECT c.n_probe, sc.query_id, sc.neighbor_id, sc.cosine
                  FROM sweep_cand c JOIN pscored sc
                    ON sc.query_id = c.query_id
                    AND sc.neighbor_id = c.neighbor_id),
         ${sweepRecallSql("psel", "cosine")}""",
    "dd_minhash_pairs" ->
      minhashOracleSql(numHashes = 64, bands = 16, seed = 42L,
        threshold = 0.7),
    "dd_incremental" ->
      incrementalOracleSql(numHashes = 64, bands = 16, seed = 42L,
        threshold = 0.8),
    // the index path is semantics-preserving by design: same oracle
    "dd_incremental_idx" ->
      incrementalOracleSql(numHashes = 64, bands = 16, seed = 42L,
        threshold = 0.8),
    "dd_simhash_pairs" -> simhashOracleSql(maxHamming = 3),
    "dd_embed_lsh" ->
      embedLshOracleSql(tables = 8, bits = 8, threshold = 0.3),
    "sim_topk_lsh" ->
      s"""WITH ${lshTopKCtes(tables = 8, k = 5)}
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine
         FROM lsh_ranked WHERE rn <= 5 ORDER BY query_id, neighbor_id""",
    "sim_recall" ->
      s"""WITH ${lshTopKCtes(tables = 8, k = 5)},
         lsh AS (SELECT query_id, neighbor_id FROM lsh_ranked WHERE rn <= 5),
         ${recallSql("lsh", "b.query_id % 32", "band")}""",
    "txt_chunks" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+')
             AS tk FROM documents WHERE doc_id < 20),
         st AS (SELECT doc_id, tk,
                  range(0, greatest(len(tk)-1, 0)+1, 48) AS starts FROM t),
         ch AS (SELECT doc_id, i.i AS chunk_idx,
                  tk[starts[i.i+1]+1 : starts[i.i+1]+64] AS ctoks
                FROM st CROSS JOIN unnest(range(0, 1000)) AS i(i)
                WHERE i.i < len(starts))
         SELECT doc_id, chunk_idx::INT AS chunk_idx,
           len(ctoks)::BIGINT AS chunk_tokens,
           array_to_string(ctoks, ' ') AS chunk_text
         FROM ch ORDER BY doc_id, chunk_idx""",
    "ds_split" ->
      """SELECT doc_id, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 (('0x' || substr(md5('split:' || doc_id::VARCHAR),1,8))
                   ::BIGINT % 100) AS bucket
               FROM documents)
         ORDER BY doc_id""",
    "ds_shuffle" ->
      """SELECT doc_id,
           row_number() OVER (
             ORDER BY md5('shuffle:' || doc_id::VARCHAR) ASC, doc_id ASC
           )::BIGINT AS shuffle_pos
         FROM documents ORDER BY doc_id""",
    "ds_group_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5('sample:' || doc_id::VARCHAR) ASC, doc_id ASC)
               AS rn
           FROM documents)
         WHERE rn <= 3 ORDER BY lang, doc_id""",
    "ds_pack" ->
      """WITH d AS (SELECT doc_id,
             len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
             (('0x' || substr(md5('pack:' || doc_id::VARCHAR),1,8))
               ::BIGINT % 8) AS shard
           FROM documents)
         SELECT doc_id, shard, n_tokens,
           floor(coalesce(sum(n_tokens) OVER (PARTITION BY shard
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 512)::BIGINT AS bin
         FROM d ORDER BY doc_id""",
    // the curation decision table composes the per-stage oracles above
    // (txt_quality, txt_langid, dd_exact, dd_survivors, dd_contam,
    // ds_split) into one sequential-gate pipeline; each stage's formula
    // is byte-identical to its standalone oracle, re-scoped to the docs
    // that survived the previous gate
    "ds_curate" ->
      (curateDecisionCtes + """
         SELECT doc_id, quality, lang_pred, q_ok, lang_ok, exact_dup,
           near_dup, contaminated, kept, bucket,
           CASE WHEN kept = 1 THEN
             (CASE WHEN bucket < 90 THEN 'train'
                   WHEN bucket < 95 THEN 'val' ELSE 'test' END) END AS split
         FROM dec2 ORDER BY doc_id"""),
    // curation + per-domain cap: the decision chain's survivors joined
    // back for source, then the same (quality desc, id) row_number cut
    // the ds_cap_source oracle uses — dec2 already carries the quality
    // the cap ranks on, so the two stages can't disagree about scores
    "ds_curate_capped" ->
      (curateDecisionCtes + """,
         survivors AS (
           SELECT d.doc_id, doc.source, d.quality,
             CASE WHEN d.bucket < 90 THEN 'train'
                  WHEN d.bucket < 95 THEN 'val' ELSE 'test' END AS split
           FROM dec2 d JOIN documents doc ON doc.doc_id = d.doc_id
           WHERE d.kept = 1),
         capped AS (
           SELECT *, row_number() OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id ASC) AS rn
           FROM survivors)
         SELECT doc_id, source, quality, split FROM capped
         WHERE rn <= 10 ORDER BY doc_id"""),
    // the STAGED curation artifact: what the restartable form writes as
    // its final stage parquet — the kept docs with their split
    // assignment. Same CTE chain; the certification here is that the
    // parquet files a 100 TB run would audit hold exactly the decision
    // table's kept set
    "ds_curate_staged" ->
      (curateDecisionCtes + """
         SELECT dec2.doc_id, c.text, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         FROM dec2 JOIN corpus c ON dec2.doc_id = c.doc_id
         WHERE kept = 1 ORDER BY dec2.doc_id"""),
    // corpus ingest: quality+lang gates over
    // the non-landed docs, keep-first (lowest doc_id — arrival order is
    // doc_id-derived) per content hash, anti-probe against the landed
    // hashes, token accounting. The gates are curateDecisionCtes'
    // quality and language CTEs over the drop relation.
    "ds_ingest" ->
      raw"""WITH landed AS (SELECT DISTINCT md5(text) AS content_hash
             FROM documents WHERE doc_id % 5 = 0),
         dm AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
         ${qualityCtes("dm")},
         ${langIdCtes("dm")},
         gated AS (
           SELECT x.doc_id, x.text, md5(x.text) AS content_hash
           FROM dm x JOIN qual q USING (doc_id) JOIN lang l USING (doc_id)
           WHERE q.quality >= 0.5 AND l.lang_pred = 'en'),
         kept AS (
           SELECT doc_id, text, content_hash FROM (
             SELECT *, row_number() OVER (PARTITION BY content_hash
                 ORDER BY doc_id ASC) AS rn
             FROM gated) WHERE rn = 1),
         fresh AS (
           SELECT k.doc_id, k.text, k.content_hash
           FROM kept k LEFT JOIN landed l ON l.content_hash = k.content_hash
           WHERE l.content_hash IS NULL)
         SELECT doc_id, content_hash,
           len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
           greatest(
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')),
             ceil(length(text) / 4)::INT)::BIGINT AS n_tokens_est
         FROM fresh ORDER BY doc_id""",
    "mm_audio" ->
      """SELECT doc_id,
           8000 AS sample_rate,
           (1 + doc_id % 2)::INT AS channels,
           (64 + n_chars % 128)::INT AS n_frames,
           ((64 + n_chars % 128) * 1000 // 8000)::BIGINT AS duration_ms,
           ((doc_id * 31) % 20000 + 1000)::INT AS amp_1,
           (CASE WHEN doc_id % 2 = 1
              THEN (doc_id * 31 + 17) % 20000 + 1000 ELSE -1 END)::INT
             AS amp_2
         FROM documents ORDER BY doc_id""",
    // sampled indices are range(0, n, 2) — the stride-2 frame sample;
    // per-channel sums over those indices are exact ints in both engines
    "mm_video" ->
      """SELECT doc_id,
           (4 + doc_id % 8)::INT AS width,
           (4 + n_chars % 8)::INT AS height,
           25 AS fps,
           (3 + n_chars % 6)::INT AS n_frames,
           ((3 + n_chars % 6 + 1) // 2)::INT AS n_sampled,
           list_sum(list_transform(range(0, (3 + n_chars % 6)::INT, 2),
             i -> (doc_id * 7 + i * 13) % 256))::INT AS sum_r,
           list_sum(list_transform(range(0, (3 + n_chars % 6)::INT, 2),
             i -> (doc_id * 11 + i * 29) % 256))::INT AS sum_g,
           list_sum(list_transform(range(0, (3 + n_chars % 6)::INT, 2),
             i -> (doc_id * 3 + i * 41 + 5) % 256))::INT AS sum_b
         FROM documents ORDER BY doc_id""",
    "mm_features" ->
      """SELECT doc_id,
           (8 + doc_id % 32)::INT AS width,
           (8 + n_chars % 32)::INT AS height,
           1 AS n_frames,
           (doc_id % 256)::INT AS mean_r,
           (doc_id * 7 % 256)::INT AS mean_g,
           ((doc_id * 13 + 5) % 256)::INT AS mean_b
         FROM documents ORDER BY doc_id""",
    "dd_embed_pairs" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.e, b.e), 4) AS cosine
         FROM v a JOIN v b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.e, b.e) >= 0.45
         ORDER BY id_a, id_b""",
    "sim_topk_q8" ->
      s"""WITH $Q8Ctes,
         ${cosineRankCtes("q8", "qv", "qv")}
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine
         FROM q8_ranked WHERE rn <= 5 ORDER BY query_id, neighbor_id""",
    "sim_recall_q8" ->
      s"""WITH $Q8Ctes,
         ${cosineRankCtes("q8", "qv", "qv")},
         q8 AS (SELECT query_id, neighbor_id FROM q8_ranked WHERE rn <= 5),
         ${recallSql("q8", "b.query_id % 32", "band")}""",
    "sim_topk_pq" -> PqTop5Sql,
    // identical oracle to sim_topk_pq on purpose: the Spark side's
    // parquet round trip must be value-invisible
    "sim_topk_pq_idx" -> PqTop5Sql,
    "sim_recall_pq" ->
      s"""WITH ${pqCtes(PqM, PqKsub, PqIters)},
         pq5 AS (SELECT query_id, neighbor_id FROM pranked WHERE rn <= 5),
         ${recallSql("pq5", "b.query_id % 32", "band")}""",
    "sim_recall_pq_rerank" ->
      s"""WITH ${pqCtes(PqM, PqKsub, PqIters)},
         ${rerankCtes("pranked")},
         ${recallSql("reranked", "b.query_id % 32", "band")}""",
    "sim_topk_ivfpq" ->
      s"""WITH $ivfBaseCtes,
         probes AS (SELECT query_id, cid FROM probes_ranked
                    WHERE rn <= 3),
         ${pqCtes(PqM, PqKsub, PqIters, emitEmb = false, candCte = Some(
           """cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
              FROM probes p JOIN assign a ON a.cid = p.cid
              WHERE a.vec_id != p.query_id)"""))}
         SELECT query_id, neighbor_id, cosine
         FROM pranked WHERE rn <= 5 ORDER BY query_id, neighbor_id""",
    "sim_topk_ivfpq_res" -> ResidualTop5Sql,
    // the incremental-append row's oracle IS the from-scratch residual
    // chain on the full corpus: base+appended codes matching it is the
    // property the row certifies
    "sim_topk_ivfpq_res_inc" -> ResidualTop5Sql,
    // the deletion row's oracle IS the from-scratch residual chain on
    // the full corpus with the candidate space restricted to the
    // SURVIVING (even-id) neighbors before the top-5 cut: cents/books
    // were trained on the full corpus and a delete never re-encodes,
    // so survivors must score exactly as they did pre-delete
    "sim_topk_ivfpq_res_del" ->
      s"""WITH $ivfBaseCtes,
         ${residualIvfPqCtes(PqM, PqKsub, PqIters, nProbe = 3)}
         SELECT query_id, neighbor_id, cosine FROM (
           SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS rn2
           FROM rscored WHERE neighbor_id % 2 = 0)
         WHERE rn2 <= 5 ORDER BY query_id, neighbor_id""",
    "sim_recall_ivfpq_res_rerank" ->
      s"""WITH $ivfBaseCtes,
         ${residualIvfPqCtes(PqM, PqKsub, PqIters, nProbe = 3)},
         ${rerankCtes("rranked")},
         ${recallSql("reranked", "b.query_id", "band", ProbeQueries)}""",
    // the sweep runs the residual chain once at the MAX probe level (4
    // — rscored is then a superset of every level's candidates, since
    // a neighbor qualifies at level np iff its coarse cid ranks
    // <= np for the query) and slices per level before the rank cut —
    // ivfPqResidualTopK's restrict-then-rank order at each np
    "sim_recall_sweep_ivfpq_res" ->
      s"""WITH $ivfBaseCtes,
         ${residualIvfPqCtes(PqM, PqKsub, PqIters, nProbe = 4)},
         $SweepCtes,
         rsel AS (SELECT s.n_probe, sc.query_id, sc.neighbor_id,
                    sc.cosine
                  FROM rscored sc
                  JOIN remb rm ON rm.vec_id = sc.neighbor_id
                  JOIN probes_ranked pr ON pr.query_id = sc.query_id
                    AND pr.cid = rm.cid
                  JOIN sweep s ON pr.rn <= s.n_probe),
         ${sweepRecallSql("rsel", "cosine")}""",
    "sim_topk" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         ${cosineRankCtes("c", "v", "e")}
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine
         FROM c_ranked WHERE rn <= 5 ORDER BY query_id, neighbor_id""",
    "sim_centroids" ->
      """SELECT label, count(*) AS n,
           round(sum(embedding[1]::DOUBLE) / count(*), 6) AS c1,
           round(sum(embedding[2]::DOUBLE) / count(*), 6) AS c2
         FROM embeddings GROUP BY label ORDER BY label""",
    "sk_cms" ->
      """WITH tok AS (
           SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
           FROM documents),
         buckets AS (
           SELECT term, d.d AS d,
             ('0x' || substr(md5('cm:' || d.d::VARCHAR || ':' || term),1,8))
               ::BIGINT % 64 AS bucket
           FROM tok CROSS JOIN unnest(range(0,3)) AS d(d)),
         sketch AS (
           SELECT d, bucket, count(*)::BIGINT AS cnt
           FROM buckets GROUP BY d, bucket),
         exact AS (
           SELECT term, count(*)::BIGINT AS exact FROM tok GROUP BY term),
         probe AS (
           SELECT e.term, d.d AS d,
             ('0x' || substr(md5('cm:' || d.d::VARCHAR || ':' || e.term),1,8))
               ::BIGINT % 64 AS bucket
           FROM exact e CROSS JOIN unnest(range(0,3)) AS d(d)),
         est AS (
           SELECT p.term, min(coalesce(s.cnt, 0))::BIGINT AS est
           FROM probe p LEFT JOIN sketch s USING (d, bucket)
           GROUP BY p.term)
         SELECT est.term, est, exact, (est - exact)::BIGINT AS overcount
         FROM est JOIN exact USING (term) ORDER BY term""",
    "sk_bloom" ->
      """WITH mem AS (SELECT doc_id FROM documents WHERE doc_id < 100),
         mpos AS (
           SELECT ('0x' || substr(md5('bf:' || h.h::VARCHAR || ':'
               || doc_id::VARCHAR),1,8))::BIGINT % 512 AS pos
           FROM mem CROSS JOIN unnest(range(0,3)) AS h(h)),
         filt AS (
           SELECT pos // 32 AS word,
             bit_or(1::BIGINT << (pos % 32)::INT) AS mask
           FROM mpos GROUP BY word),
         ppos AS (
           SELECT doc_id,
             ('0x' || substr(md5('bf:' || h.h::VARCHAR || ':'
               || doc_id::VARCHAR),1,8))::BIGINT % 512 AS pos
           FROM documents CROSS JOIN unnest(range(0,3)) AS h(h)),
         hits AS (
           SELECT doc_id,
             (coalesce(f.mask, 0) & (1::BIGINT << (p.pos % 32)::INT)) <> 0
               AS hit
           FROM ppos p LEFT JOIN filt f ON f.word = p.pos // 32)
         SELECT doc_id, bool_and(hit) AS might_contain,
           doc_id < 100 AS in_set
         FROM hits GROUP BY doc_id ORDER BY doc_id""",
    "sk_hll" ->
      s"""WITH $HllKeyedCte,
         h AS (
           SELECT what,
             ('0x' || substr(md5('hl:r:' || k),1,8))::BIGINT % 512
               AS register,
             ('0x' || substr(md5('hl:w:' || k),1,8))::BIGINT AS w
           FROM keyed),
         r AS (
           SELECT what, register,
             max(CASE WHEN w = 0 THEN 33
                      ELSE 33 - length(bin(w)) END) AS maxrho
           FROM h GROUP BY what, register),
         agg AS (
           SELECT what, count(*) AS present,
             coalesce(sum(1.0 / (1::BIGINT << maxrho)), 0.0) AS sp
           FROM r GROUP BY what),
         $HllEstimateSql""",
    // the 64-bit twin replayed from the md5 two-slice: hi/lo are the
    // first/second 8 hex digits of md5('hl64:'||k); register = low 9
    // bits of the 64-bit value (= lo % 512), rho = 65 - bitlength(h)
    // capped at 56 (the w == 0 case). The present-register sum rides
    // as the scaled integer sum(2^(56-maxrho)) (DuckDB sums BIGINT
    // into HUGEINT — no overflow) and converts to double ONCE, exactly
    // mirroring hllEstimate's decimal-sum -> double -> /2^56 chain, so
    // sum_inv is the same double bit pattern in both engines
    "sk_hll64" ->
      s"""WITH $HllKeyedCte,
         h AS (
           SELECT what,
             ('0x' || substr(md5('hl64:' || k),1,8))::BIGINT AS hi,
             ('0x' || substr(md5('hl64:' || k),9,8))::BIGINT AS lo
           FROM keyed WHERE k IS NOT NULL),
         bl AS (
           SELECT what, lo % 512 AS register,
             CASE WHEN hi > 0 THEN 32 + length(bin(hi))
                  WHEN lo > 0 THEN length(bin(lo)) ELSE 0 END AS bitlen
           FROM h),
         r AS (
           SELECT what, register,
             max(CASE WHEN bitlen > 9 THEN 65 - bitlen ELSE 56 END)
               AS maxrho
           FROM bl GROUP BY what, register),
         agg AS (
           SELECT what, count(*) AS present,
             sum(1::BIGINT << (56 - maxrho))::DOUBLE
               / 72057594037927936.0 AS sp
           FROM r GROUP BY what),
         $HllEstimateSql""",
    "sim_project" ->
      """WITH pl AS (
           SELECT jd.j AS j, list(jd.pv ORDER BY jd.d) AS plane
           FROM (
             SELECT j.j, d.d,
               ((('0x' || substr(md5('rp:0:' || j.j::VARCHAR || ':'
                   || d.d::VARCHAR),1,8))::BIGINT
                 % 1000001 - 500000) / 500000.0) AS pv
             FROM unnest(range(0,16)) AS j(j)
             CROSS JOIN unnest(range(0,64)) AS d(d)) jd
           GROUP BY jd.j),
         emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         proj AS (
           SELECT emb.vec_id, pl.j,
             floor(list_dot_product(emb.e, pl.plane) * 0.25 * 10000 + 0.5)
               / 10000 AS pv
           FROM emb CROSS JOIN pl
           WHERE emb.e IS NOT NULL)
         SELECT vec_id, j::BIGINT AS j, pv AS value FROM proj
         UNION ALL
         -- posexplode_outer mirror: a NULL embedding is ONE
         -- (vec_id, NULL, NULL) row, not 16 NULL-valued ones
         SELECT vec_id, NULL::BIGINT AS j, NULL::DOUBLE AS value
         FROM emb WHERE e IS NULL
         ORDER BY vec_id, j""",
    "txt_tokens" ->
      """SELECT doc_id, length(text)::BIGINT AS n_chars,
           len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
           greatest(
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')),
             ceil(length(text) / 4)::INT)::BIGINT AS token_estimate
         FROM documents ORDER BY doc_id""",
    "txt_filter" ->
      s"""WITH ${qualityCtes("documents")},
         g3 AS (SELECT doc_id, list_filter(list_transform(
                  range(1, greatest(len(toks)-2, 1)+1),
                  i -> array_to_string(toks[i:i+2], ' ')),
                  g -> len(g) > 0) AS g
                FROM m),
         d3 AS (SELECT doc_id,
                  floor((CASE WHEN len(g) = 0 THEN 0.0
                    ELSE 1.0 - len(list_distinct(g))::DOUBLE / len(g) END)
                    * 10000 + 0.5) / 10000 AS dup3_frac
                FROM g3)
         SELECT b.doc_id, b.n_tokens, q.quality, d3.dup3_frac,
           b.n_tokens < 20 AS too_short,
           q.quality < 0.5 AS low_quality,
           d3.dup3_frac > 0.05 AS too_repetitive,
           NOT (b.n_tokens < 20 OR q.quality < 0.5 OR d3.dup3_frac > 0.05)
             AS keep
         FROM base b JOIN qual q USING (doc_id) JOIN d3 USING (doc_id)
         ORDER BY b.doc_id""",
    "txt_redact" ->
      """WITH d AS (
           SELECT doc_id,
             text || ' contact user' || doc_id::VARCHAR
                  || '@mail.example.org'
                  || ' or 555-867-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  || ' from 10.0.' || (doc_id % 256)::VARCHAR
                  || '.' || (doc_id % 100)::VARCHAR AS t
           FROM documents),
         s1 AS (SELECT doc_id, t,
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1 FROM d),
         s2 AS (SELECT doc_id, t, t1,
             regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
               '<IP>', 'g') AS t2 FROM s1)
         SELECT doc_id,
           regexp_replace(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g')
             AS redacted,
           len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
             AS n_email,
           len(regexp_extract_all(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ip,
           len(regexp_extract_all(t2,
             '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))::BIGINT AS n_phone
         FROM s2 ORDER BY doc_id""",
    "txt_bm25" ->
      """WITH dl AS (
           SELECT doc_id AS doc,
             len(string_split_regex(trim(text), '\s+'))::DOUBLE AS dl
           FROM documents),
         stats AS (
           SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
         post AS (
           SELECT term, doc, count(*)::DOUBLE AS tf FROM (
             SELECT doc_id AS doc,
               unnest(string_split_regex(trim(text), '\s+')) AS term
             FROM documents)
           WHERE term IN ('spark', 'join', 'shuffle')
           GROUP BY term, doc),
         dfreq AS (
           SELECT term, count(DISTINCT doc)::DOUBLE AS df
           FROM post GROUP BY term),
         scored AS (
           SELECT p.doc, count(*)::BIGINT AS n_terms_hit,
             sum(ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                 * p.tf * 2.2
                 / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS score
           FROM post p
           JOIN dfreq f USING (term)
           JOIN dl d USING (doc)
           CROSS JOIN stats s
           GROUP BY p.doc)
         SELECT doc AS doc_id, n_terms_hit,
           floor(score * 10000 + 0.5) / 10000 AS score
         FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
    "txt_quality" ->
      s"""WITH ${qualityCtes("documents")}
         SELECT doc_id, n_tokens, mean_token_len, stopword_ratio, alpha_ratio,
           $QualityExprSql AS quality
         FROM base ORDER BY doc_id""",
    "txt_divergence" ->
      """WITH cut AS (SELECT (max(doc_id) + 1) // 2 AS c FROM documents),
         tp AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
                FROM documents, cut WHERE doc_id < cut.c),
         tq AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
                FROM documents, cut WHERE doc_id >= cut.c),
         cp AS (SELECT w, count(*) AS c_p FROM tp GROUP BY 1),
         cq AS (SELECT w, count(*) AS c_q FROM tq GROUP BY 1),
         j AS (SELECT coalesce(cp.w, cq.w) AS w,
                 coalesce(c_p, 0) AS c_p, coalesce(c_q, 0) AS c_q
               FROM cp FULL OUTER JOIN cq ON cp.w = cq.w),
         t AS (SELECT sum(c_p)::DOUBLE AS n_p, sum(c_q)::DOUBLE AS n_q,
                 count(*)::DOUBLE AS v FROM j),
         probs AS (SELECT
             (c_p + 0.5) / (t.n_p + 0.5 * t.v) AS pw,
             (c_q + 0.5) / (t.n_q + 0.5 * t.v) AS qw, t.v AS v
           FROM j CROSS JOIN t)
         SELECT max(v)::BIGINT AS vocab,
           floor(sum(pw * ln(pw / qw)) * 10000 + 0.5) / 10000 AS kl_pq,
           floor(sum(qw * ln(qw / pw)) * 10000 + 0.5) / 10000 AS kl_qp,
           floor(sum(pw * ln(pw / ((pw + qw) / 2))
             + qw * ln(qw / ((pw + qw) / 2))) / 2 * 10000 + 0.5) / 10000
             AS js
         FROM probs""",
    "txt_lm_score" ->
      """WITH tok AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
           FROM documents),
         bg AS (
           SELECT doc_id, tk[i.i + 1] AS w1, tk[i.i + 2] AS w2
           FROM tok
           CROSS JOIN unnest(range(0, greatest(len(tk) - 1, 0))) AS i(i)
           WHERE len(tk) >= 2),
         bc AS (SELECT w1, w2, count(*)::DOUBLE AS c
                FROM bg GROUP BY 1, 2),
         cc AS (SELECT w1, count(*)::DOUBLE AS c_ctx FROM bg GROUP BY 1),
         v AS (SELECT count(DISTINCT u.w)::DOUBLE AS v
               FROM (SELECT unnest(tk) AS w FROM tok) u),
         sc AS (
           SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams,
             avg(ln((coalesce(bc.c, 0) + 0.5)
               / (coalesce(cc.c_ctx, 0) + 0.5 * v.v))) AS raw
           FROM bg
           LEFT JOIN bc USING (w1, w2)
           LEFT JOIN cc USING (w1)
           CROSS JOIN v
           GROUP BY bg.doc_id)
         SELECT d.doc_id, coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
           floor(sc.raw * 10000 + 0.5) / 10000 AS lm_score
         FROM documents d LEFT JOIN sc USING (doc_id)
         ORDER BY d.doc_id""",
    "txt_langid" ->
      s"""WITH ${langIdCtes("documents")}
         SELECT doc_id, d.lang, l.lang_pred
         FROM documents d JOIN lang l USING (doc_id) ORDER BY doc_id""",
    "txt_fingerprint" ->
      """SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
             string_split_regex(trim(text), '\s+'))), ' ')) AS fingerprint
         FROM documents ORDER BY doc_id""",
    "ev_distinct" ->
      """WITH keyed AS (
           SELECT CAST(date_trunc('hour', ts) AS varchar) AS h,
             user_id::VARCHAR AS k
           FROM events),
         hsh AS (
           SELECT h,
             ('0x' || substr(md5('hl:r:' || k),1,8))::BIGINT % 512
               AS register,
             ('0x' || substr(md5('hl:w:' || k),1,8))::BIGINT AS w
           FROM keyed),
         r AS (
           SELECT h, register,
             max(CASE WHEN w = 0 THEN 33
                      ELSE 33 - length(bin(w)) END) AS maxrho
           FROM hsh GROUP BY h, register),
         agg AS (
           SELECT h, count(*) AS present,
             coalesce(sum(1.0 / (1::BIGINT << maxrho)), 0.0) AS sp
           FROM r GROUP BY h),
         est AS (
           SELECT h,
             round(CASE WHEN (0.7213 / (1 + 1.079/512)) * 512 * 512
                          / (sp + (512 - present)) <= 2.5 * 512
                        AND present < 512
                   THEN 512 * ln(512.0 / (512 - present))
                   ELSE (0.7213 / (1 + 1.079/512)) * 512 * 512
                          / (sp + (512 - present)) END, 2) AS est_users
           FROM agg),
         x AS (SELECT CAST(date_trunc('hour', ts) AS varchar) AS h,
                 count(DISTINCT user_id) AS exact_users
               FROM events GROUP BY 1)
         SELECT est.h, est_users, exact_users::BIGINT AS exact_users,
           round(abs(est_users - exact_users) / exact_users * 100, 2)
             AS err_pct
         FROM est JOIN x USING (h) ORDER BY h""",
    "ev_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS us
           FROM events),
         g AS (
           SELECT user_id, event_id, value, us,
             CASE WHEN us - lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
               AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (
           SELECT user_id, event_id, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
           FROM g)
         SELECT user_id, session_id::BIGINT AS session_id,
           count(*) AS n_events, round(sum(value), 2) AS total
         FROM s GROUP BY user_id, s.session_id
         ORDER BY user_id, session_id""",
    "ev_asof" -> asofOracleSql(">="),
    "ev_asof_fwd" -> asofOracleSql("<="),
    "ev_asof_near" ->
      s"""WITH $AsofCtes,
         b AS (SELECT p.event_id, v.us AS rts, v.view_value AS bv
               FROM p ASOF LEFT JOIN v
                 ON p.user_id = v.user_id AND p.us >= v.us),
         f AS (SELECT p.event_id, v.us AS rts, v.view_value AS fv
               FROM p ASOF LEFT JOIN v
                 ON p.user_id = v.user_id AND p.us <= v.us)
         SELECT p.user_id, p.event_id, p.us,
           CASE WHEN m.rts IS NOT NULL AND abs(p.us - m.rts) <= 3600000000
                THEN m.mv END AS asof_view_value
         FROM p
         LEFT JOIN (
           SELECT b.event_id,
             CASE WHEN f.rts IS NULL THEN b.rts
                  WHEN b.rts IS NOT NULL
                       AND (p2.us - b.rts) <= (f.rts - p2.us) THEN b.rts
                  ELSE f.rts END AS rts,
             CASE WHEN f.rts IS NULL THEN b.bv
                  WHEN b.rts IS NOT NULL
                       AND (p2.us - b.rts) <= (f.rts - p2.us) THEN b.bv
                  ELSE f.fv END AS mv
           FROM b JOIN f ON b.event_id = f.event_id
           JOIN p p2 ON p2.event_id = b.event_id) m
           ON m.event_id = p.event_id
         ORDER BY p.event_id""",
    "ev_attrib" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
             epoch_ns(ts) // 1000 AS us
           FROM events),
         p AS (SELECT event_id AS purchase_id, user_id, us AS p_us,
               value AS purchase_value FROM e
               WHERE event_type = 'purchase'),
         v AS (SELECT event_id AS view_id, user_id AS v_user_id, us AS v_us
               FROM e WHERE event_type = 'view')
         SELECT p.purchase_id, p.user_id, p.p_us, p.purchase_value,
           v.view_id, v.v_us
         FROM p JOIN v ON p.user_id = v.v_user_id
           AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 3600000000
         ORDER BY purchase_id, view_id""",
    "q_range_join" ->
      """WITH pts AS (
           SELECT l_orderkey, l_linenumber,
             date_diff('day', DATE '1970-01-01', l_shipdate::DATE)::BIGINT
               AS ship_day
           FROM lineitem WHERE l_orderkey < 200),
         ivs AS (
           SELECT o_orderkey,
             date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT
               AS lo
           FROM orders WHERE o_orderkey < 2000)
         SELECT l_orderkey, l_linenumber, ship_day, o_orderkey
         FROM pts JOIN ivs
           ON ship_day BETWEEN lo AND lo + 7
         ORDER BY l_orderkey, l_linenumber, ship_day, o_orderkey""",
    "txt_normalize" ->
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
             '[.,;:!?''"()\[\]{}-]', '', 'g'), '\s+', ' ', 'g')) AS norm,
           length(trim(regexp_replace(regexp_replace(lower(text),
             '[.,;:!?''"()\[\]{}-]', '', 'g'), '\s+', ' ', 'g')))::BIGINT
             AS norm_len
         FROM documents ORDER BY doc_id""",
    "txt_length_hist" ->
      """SELECT (length(text) // 100 * 100)::BIGINT AS bucket_lo,
           count(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY 1""",
    "txt_top_terms" ->
      """SELECT token, count(*) AS cnt FROM (
           SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents)
         GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20""",
    // the exact answer, plainly: certifies that heavyHitters'
    // sample-generated candidate set recovered the true top-k
    "txt_heavy_hitters" ->
      """SELECT token, count(*)::BIGINT AS n FROM (
           SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents)
         GROUP BY token ORDER BY n DESC, token ASC LIMIT 15""",
    "txt_bpe" -> bpeOracleSql(8),
    "txt_bpe_tokens" -> bpeTokensOracleSql(8),
    // the artifact round trip must land on the identical counts
    "txt_bpe_artifact" -> bpeTokensOracleSql(8),
    "ds_token_budget_bpe" ->
      s"""${bpeCtes(8)},
         ${bpeEncodeCtes(8)},
         ${qualityCtes("documents")},
         ranked AS (SELECT d.doc_id, d.lang, t.n_tokens,
             coalesce(sum(t.n_tokens) OVER (PARTITION BY d.lang
               ORDER BY q.quality DESC, d.doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS spent
           FROM documents d JOIN qual q USING (doc_id)
           JOIN btok t USING (doc_id))
         SELECT doc_id, lang, n_tokens FROM ranked
         WHERE spent < 5000 ORDER BY doc_id""",
    "txt_tfidf" ->
      """WITH terms AS (
           SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
             AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM terms
                GROUP BY 1, 2),
         dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
         SELECT doc_id, tf.token, tf, df,
           round(tf * ln(n_docs / df), 6) AS tfidf
         FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
         WHERE doc_id < 10
         ORDER BY doc_id, tf.token""",
    "mm_meta" ->
      """SELECT doc_id, octet_length(text::BLOB)::BIGINT AS byte_len,
           md5(text) AS checksum
         FROM documents ORDER BY doc_id""",
    // the perceptual-hash rig's dhashes rebuilt CLOSED-FORM from doc_id
    // ([[ImageFpCtes]]), its ahashes from prefix sums of the planted
    // bits, then a brute-force pair join: matches Spark's
    // decode->resample->hash->banded chain only if every stage is
    // bit-exact. Bit 63 is never set on either hash, so BIGINT
    // shifts/xor agree across engines.
    "mm_dedup" ->
      s"""WITH $ImageFpCtes,
         gridc AS (SELECT cy.cy, cx.cx
                   FROM unnest(range(0, 8)) AS cy(cy)
                   CROSS JOIN unnest(range(0, 8)) AS cx(cx)),
         pre AS (SELECT d.doc_id, c.cy, c.cx,
                   COALESCE(sum(b.bit), 0) AS sb
                 FROM d CROSS JOIN gridc c
                 LEFT JOIN bits b ON b.doc_id = d.doc_id
                   AND b.j >= c.cy*8 AND b.j < c.cy*8 + c.cx
                 GROUP BY d.doc_id, c.cy, c.cx),
         cells AS (SELECT p.doc_id, p.cy, p.cx,
                     100 + ((d.g*13 + p.cy*7) % 40)
                       + 5*(2*p.sb - p.cx) AS v
                   FROM pre p JOIN d ON d.doc_id = p.doc_id),
         tots AS (SELECT doc_id, sum(v) AS tot FROM cells
                  GROUP BY doc_id),
         ah AS (SELECT c.doc_id,
                  sum(CASE WHEN c.cy*8 + c.cx < 63 AND c.v*64 > t.tot
                      THEN 1::BIGINT << (c.cy*8 + c.cx)
                      ELSE 0 END)::BIGINT AS ahash
                FROM cells c JOIN tots t ON t.doc_id = c.doc_id
                GROUP BY c.doc_id),
         fp AS (SELECT dh.doc_id, dh.dhash, ah.ahash
                FROM dh JOIN ah ON ah.doc_id = dh.doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.dhash, b.dhash))::INT AS hamming_d,
           bit_count(xor(a.ahash, b.ahash))::INT AS hamming_a
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         ORDER BY id_a, id_b""",
    // the audio rig's envelope hashes rebuilt closed-form
    // ([[AudioFpCtes]]) and the pair join brute-forced — matches Spark's
    // wav-decode -> window -> gradient chain only if every integer stage
    // is bit-exact
    "mm_audio_dedup" ->
      s"""WITH $AudioFpCtes
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.ehash, b.ehash))::INT AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.ehash, b.ehash)) <= 3
         ORDER BY id_a, id_b""",
    // the video rig's frame-set-jaccard pairs replayed closed-form
    // ([[VideoFpCtes]], stop-frame prune included)
    "mm_video_dedup" ->
      s"""WITH $VideoFpCtes
         SELECT id_a, id_b, n_shared, jaccard FROM vpairs
         ORDER BY id_a, id_b""",
    // perceptual CURATION: the mm_dedup dhashes rebuilt closed-form, the
    // banded pair set brute-forced (recall is exact at hamming <= 3, so
    // brute force IS the banded answer), then the min-label transitive
    // closure (the dd_survivors_exact recursion) and one survivor per
    // component — keepFirstExact on pixels
    "mm_survivors" ->
      s"""WITH RECURSIVE $ImageFpCtes,
         prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM dh a JOIN dh b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         ${minLabelCtes("prs")}
         ${componentMinSql("d")}""",
    // AUDIO curation: the same shape over the envelope hashes —
    // keepFirstExact on waveforms
    "mm_audio_survivors" ->
      s"""WITH RECURSIVE $AudioFpCtes,
         prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM fp a JOIN fp b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.ehash, b.ehash)) <= 3),
         ${minLabelCtes("prs")}
         ${componentMinSql("d")}""",
    // VIDEO curation: the mm_video_dedup pairs (inert maxDocFreq = 60
    // prune included) through the same closure — keepFirstExact on
    // videos
    "mm_video_survivors" ->
      s"""WITH RECURSIVE $VideoFpCtes,
         ${minLabelCtes("vpairs")}
         ${componentMinSql("d")}""",
  )

  /** Shared CTE chain (corpus → … → dec2) for the ds_curate and
    * ds_curate_staged oracles — each stage's formula is the one its
    * standalone oracle uses ([[qualityCtes]], [[langIdCtes]],
    * [[jaccardCtes]]), re-scoped to the docs that survived the previous
    * gate. Callers append their final SELECT. */
  private def curateDecisionCtes: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
           WHERE doc_id >= 50),
         ${qualityCtes("corpus")},
         ${langIdCtes("corpus")},
         scored AS (
           SELECT c.doc_id, q.quality, l.lang_pred,
             CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS q_ok,
             CASE WHEN l.lang_pred = 'en' THEN 1 ELSE 0 END AS lang_ok
           FROM corpus c
           JOIN qual q USING (doc_id) JOIN lang l USING (doc_id)),
         g1 AS (SELECT s.doc_id, c.text FROM scored s
                JOIN corpus c USING (doc_id)
                WHERE s.q_ok = 1 AND s.lang_ok = 1),
         exf AS (SELECT doc_id,
                   CASE WHEN doc_id = min(doc_id)
                     OVER (PARTITION BY md5(text)) THEN 0 ELSE 1 END
                     AS exact_dup
                 FROM g1),
         ex AS (SELECT g1.doc_id, g1.text FROM g1
                JOIN exf USING (doc_id) WHERE exact_dup = 0),
         ${jaccardCtes("ex")},
         ndf AS (SELECT doc_id,
                   CASE WHEN doc_id IN (SELECT id_b FROM jpairs)
                     THEN 1 ELSE 0 END AS near_dup
                 FROM ex),
         nd AS (SELECT ex.doc_id, ex.text FROM ex
                JOIN ndf USING (doc_id) WHERE near_dup = 0),
         nsh AS (${shingleSqlFrom("nd")}),
         bsh AS (${shingleSqlFrom(
           "(SELECT doc_id, text FROM documents WHERE doc_id < 50) b")}),
         bsz AS (SELECT doc_id AS bench_id, count(*) AS bench_size
                 FROM bsh GROUP BY 1),
         cinter AS (SELECT n.doc_id, b.doc_id AS bench_id,
                      count(*) AS shared
                    FROM nsh n JOIN bsh b ON n.shingle = b.shingle
                    GROUP BY 1, 2),
         contam_ids AS (
           SELECT DISTINCT doc_id FROM cinter
           JOIN bsz USING (bench_id)
           WHERE shared::DOUBLE / bench_size >= 0.8),
         ctf AS (SELECT doc_id,
                   CASE WHEN doc_id IN (SELECT doc_id FROM contam_ids)
                     THEN 1 ELSE 0 END AS contaminated
                 FROM nd),
         dec AS (
           SELECT s.doc_id, s.quality, s.lang_pred, s.q_ok, s.lang_ok,
             e.exact_dup, n.near_dup, ct.contaminated,
             CASE WHEN s.q_ok = 1 AND s.lang_ok = 1
               AND coalesce(e.exact_dup, 1) = 0
               AND coalesce(n.near_dup, 1) = 0
               AND coalesce(ct.contaminated, 1) = 0
               THEN 1 ELSE 0 END AS kept
           FROM scored s
           LEFT JOIN exf e USING (doc_id)
           LEFT JOIN ndf n USING (doc_id)
           LEFT JOIN ctf ct USING (doc_id)),
         dec2 AS (
           SELECT dec.*,
             CASE WHEN kept = 1 THEN
               (('0x' || substr(md5('split:' || doc_id::VARCHAR),1,8))
                 ::BIGINT % 100) END AS bucket
           FROM dec)"""
}
