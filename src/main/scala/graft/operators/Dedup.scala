package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Deduplication suite for large-scale text/embedding corpora.
  *
  * Everything is expressed as joins/aggregations over Catalyst — no
  * driver-side loops, no O(n²) cross joins — so each method's cost is a
  * bounded number of shuffles on keys (content hash, LSH bucket, shingle)
  * and survives a 1000-executor / 100 TB scale-up:
  *
  *  - exact:      1 shuffle on content hash
  *  - minhash:    narrow signature compute + 1 shuffle per band bucket join
  *  - simhash:    narrow fingerprint compute + 1 shuffle on 16-bit chunks
  *  - ngram:      inverted-index join on shingle (shuffle on shingle key),
  *                never materializing the n² pair space
  *  - embedding:  random-hyperplane LSH bucket join + exact cosine verify
  *
  * All hashing is deterministic (fixed seeds) so results are reproducible
  * across runs and cluster layouts. Hashing is pluggable via [[HashMode]]:
  * the production default is Spark's codegen'd `xxhash64`; [[HashMode.Md5]]
  * derives the same-width hashes from md5 hex prefixes, which any SQL
  * engine can replicate bit-for-bit — that mode exists so LSH outputs can
  * be verified value-level against an external oracle (DuckDB), not just
  * row-counted.
  */
object Dedup {

  /** Hash provider for the LSH family. */
  sealed trait HashMode
  object HashMode {
    /** xxhash64 — fastest (codegen'd, no hex round-trip); production. */
    case object Xx extends HashMode
    /** md5-derived bits — bit-replicable in any engine with md5(). */
    case object Md5 extends HashMode
  }

  /** 31-bit non-negative hash of a column. Md5 mode: first 8 md5 hex chars
    * parsed as an unsigned 32-bit int, reduced mod 2^31-1 — DuckDB twin is
    * `('0x' || substr(md5(c),1,8))::BIGINT % 2147483647`. */
  private[graft] def hash31(c: Column, mode: HashMode): Column = mode match {
    case HashMode.Xx => pmod(xxhash64(c), lit(Prime31))
    case HashMode.Md5 =>
      pmod(conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long"),
        lit(Prime31))
  }

  /** 64-bit hash of a column. Md5 mode composes the first 16 md5 hex chars
    * from two 32-bit halves (a single conv of 16 chars would overflow the
    * signed long cast for half the values). */
  private[graft] def hash64(c: Column, mode: HashMode): Column = mode match {
    case HashMode.Xx => xxhash64(c)
    case HashMode.Md5 =>
      val hex = md5(c.cast("binary"))
      shiftleft(conv(substring(hex, 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(hex, 9, 8), 16, 10).cast("long"))
  }

  // ---------------------------------------------------------------- exact

  /** Exact row dedup on the given columns (hash-shuffle groupBy). */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Exact content dedup: keep the smallest id per identical content.
    * One shuffle on md5(content); survivors returned with their id. */
  def exactByContent(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  // -------------------------------------------------------------- minhash

  /** Word n-gram shingles per document: (id, shingle) exploded — the
    * narrow, distributed representation every method below builds on. */
  def shingles(df: DataFrame, idCol: String, textCol: String,
               n: Int = 3): DataFrame = {
    // materialize the token array as a COLUMN before the lambda touches
    // it: higher-order functions interpret their lambda, and an outer
    // EXPRESSION referenced inside one is re-evaluated per element — as
    // `split(trim(text))` that meant one regex split of the full doc per
    // n-gram (~50x per doc, measured 3.3s -> 0.35s on the sf0.1 corpus
    // shingle scan). An attribute reference is a per-row slot lookup.
    val toks = col("__toks")
    // sliding n-grams via transform over index range; drop tail stubs
    val grams = filter(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")),
      g => length(g) > 0)
    // repartition by id first: decouples explode parallelism from the
    // input file layout (a single parquet file otherwise serializes the
    // whole tokenization on one core) and pre-positions the per-id
    // aggregations downstream (sizes, signatures) to reuse the exchange
    df.repartition(col(idCol))
      .withColumn("__toks", split(trim(col(textCol)), "\\s+"))
      .select(col(idCol), explode(array_distinct(grams)).as("shingle"))
  }

  /** Deterministic (a,b) coefficient pairs for k universal hash fns,
    * bounded to 31 bits so a*h + b stays within 2^62 (no long overflow).
    * private[graft]: the DuckDB oracle generator embeds the same
    * coefficients as SQL literals. */
  private[graft] def hashCoeffs(k: Int, seed: Long): Seq[(Long, Long)] = {
    val r = new Random(seed)
    Seq.fill(k)((r.nextInt(Int.MaxValue - 1).toLong + 1L,
      r.nextInt(Int.MaxValue).toLong))
  }

  /** 2^31 - 1, prime; the universal-hash modulus. */
  private val Prime31 = Int.MaxValue.toLong

  /** MinHash signatures: (id, sig array<long> of length numHashes).
    * h_i(s) = (a_i * h(s) + b_i) mod p with h(s) = xxhash64 reduced to
    * 31 bits, min over the doc's shingles. Computed as one aggregation
    * over the exploded shingle frame — a single shuffle on id, with
    * partial map-side mins first.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleSize: Int = 3,
                        seed: Long = 42L,
                        mode: HashMode = HashMode.Xx): DataFrame = {
    val sh = shingles(df, idCol, textCol, shingleSize)
      .withColumn("h", hash31(col("shingle"), mode))
    val minCols = hashCoeffs(numHashes, seed).zipWithIndex.map {
      case ((a, b), i) =>
        min(pmod(col("h") * lit(a) + lit(b), lit(Prime31))).as(s"m$i")
    }
    sh.groupBy(col(idCol)).agg(minCols.head, minCols.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"m$i")): _*)
        .as("signature"))
  }

  /** LSH band buckets: (id, band, bucket_hash). bands * rowsPerBand must
    * equal the signature length. Md5 mode buckets are the md5 hex of the
    * comma-joined band slice (DuckDB: `md5(array_to_string(slice, ','))`);
    * xx mode hashes the slice array directly. */
  def minhashBuckets(sigs: DataFrame, idCol: String, bands: Int,
                     rowsPerBand: Int,
                     mode: HashMode = HashMode.Xx): DataFrame = {
    def bucketOf(b: Int): Column = {
      val sl = slice(col("signature"), b * rowsPerBand + 1, rowsPerBand)
      mode match {
        case HashMode.Xx => xxhash64(sl).cast("string")
        case HashMode.Md5 =>
          md5(array_join(transform(sl, x => x.cast("string")), ",")
            .cast("binary"))
      }
    }
    sigs.select(col(idCol), posexplode(
        array((0 until bands).map(bucketOf): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Candidate pairs (idA < idB) sharing at least one LSH bucket — a
    * self-equi-join on (band, bucket), deduped. This is the scale path:
    * the pair space is only materialized inside colliding buckets. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleSize: Int = 3, seed: Long = 42L,
                        mode: HashMode = HashMode.Xx): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleSize,
      seed, mode)
    val b = minhashBuckets(sigs, idCol, bands, numHashes / bands, mode)
    val l = b.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val r = b.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** MinHash near-dedup: estimate jaccard from signature agreement for
    * candidate pairs, keep pairs above the threshold. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, numHashes: Int = 64,
                   bands: Int = 16, shingleSize: Int = 3,
                   seed: Long = 42L,
                   mode: HashMode = HashMode.Xx): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // one signature computation feeds both the bucket join and the
    // estimate — signatures are cached because the plan fans out into
    // three scans (bucket left/right + both pair sides). Callers that run
    // many queries in one session should clearCache() afterwards (Verify
    // does); the cache is scoped to this plan's lifetime by convention.
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleSize,
      seed, mode).cache()
    val b = minhashBuckets(sigs, idCol, bands, numHashes / bands, mode)
    val l = b.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val r = b.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    val cand = l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sa = sigs.select(col(idCol).as("id_a"), col("signature").as("sig_a"))
    val sb = sigs.select(col(idCol).as("id_b"), col("signature").as("sig_b"))
    // signature agreement via the codegen'd VectorEqCount kernel — the
    // HOF form (aggregate over zip_with) interprets its lambda per lane
    // per candidate pair, the same tax VectorDot removes for cosine
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard",
        graft.plans.VectorExpressions.vectorEqCount(
          col("sig_a"), col("sig_b")).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  // --------------------------------------------------------- incremental

  /** Incremental dedup: survivors of a NEW batch against an
    * already-landed corpus — the daily-ingest shape, where re-running
    * full-corpus dedup per batch would be O(corpus) every day. A batch
    * doc is dropped iff
    *  (a) its exact content hash appears in the corpus or on a
    *      smaller-id batch doc, or
    *  (b) it minhash-near-dups ANY corpus doc, or a smaller-id batch doc
    *      that survived stage (a) (greedy keep-first within the batch —
    *      same semantics as [[keepFirst]]).
    * The corpus is never re-paired against itself (it is already clean).
    *
    * Scale shape: the corpus contributes only content hashes and LSH
    * bucket rows; at 100 TB both are MATERIALIZED artifacts (write the
    * corpus signature/bucket frame once when the corpus lands with
    * [[writeMinhashIndex]], probe it per batch), making the daily cost
    * O(batch + collisions), not O(corpus). This overload builds the
    * index inline for self-containment and delegates to the
    * index-probing overload — the plan shape downstream of the index
    * frames is identical. */
  def incrementalSurvivors(batch: DataFrame, corpus: DataFrame,
                           idCol: String, textCol: String,
                           threshold: Double = 0.8, numHashes: Int = 64,
                           bands: Int = 16, shingleSize: Int = 3,
                           seed: Long = 42L,
                           mode: HashMode = HashMode.Xx): DataFrame =
    incrementalSurvivors(batch,
      buildMinhashIndex(corpus, idCol, textCol, numHashes, bands,
        shingleSize, seed, mode),
      idCol, textCol, threshold)

  /** [[incrementalSurvivors]] probing a PREBUILT corpus index — the
    * 100 TB shape: the corpus hash/signature/bucket frames are
    * materialized once when the corpus lands ([[writeMinhashIndex]]) and
    * every batch probes that artifact ([[readMinhashIndex]]), so the
    * per-batch cost is O(batch + collisions) and the corpus text is
    * never re-read, let alone re-shingled (pinned by spec: the probe
    * plan scans only the three index frames). Probe hyperparameters
    * (hash count, banding, shingle width, seed, hash mode) come FROM the
    * index, so a mismatched probe is impossible by construction — the
    * same params-travel-with-the-artifact convention as
    * [[Sketches]]. `idCol`/`textCol` must name the batch's columns; the
    * index frames carry the id column name they were built with. */
  def incrementalSurvivors(batch: DataFrame, index: MinhashIndex,
                           idCol: String, textCol: String,
                           threshold: Double): DataFrame = {
    require(index.numHashes % index.bands == 0,
      "bands must divide numHashes — a hand-built MinhashIndex with " +
        "mismatched banding would silently drop signature lanes")
    // the index frames carry the id column name THEY were built with —
    // resolve it from the frames so a batch with a different id column
    // name probes cleanly
    val idxSigId = SignaturesDir.idCol(index.signatures)
    val idxBktId = BucketsDir.idCol(index.buckets)
    val h = md5(col(textCol).cast("binary"))
    // (a) exact: any corpus twin, or a smaller-id batch twin
    val bh = batch.withColumn("__h", h)
    val corpusHashes = index.hashes
      .select(col("content_hash").as("__h")).distinct()
    val minPerHash = bh.groupBy(col("__h")).agg(min(col(idCol)).as("__keep"))
    val exactKept = bh
      .join(corpusHashes, Seq("__h"), "left_anti")
      .join(minPerHash, Seq("__h"))
      .filter(col(idCol) === col("__keep"))
      .drop("__h", "__keep")
    // (b) near: one BATCH signature pass (cached — it feeds the batch
    // bucket join, the batch-vs-batch join, and two verify joins); the
    // CORPUS side comes straight from the index frames, each a
    // single-consumer scan of the materialized artifact — no cache, no
    // recompute, candidates only inside colliding buckets
    val sigB = minhashSignatures(exactKept, idCol, textCol,
      index.numHashes, index.shingleSize, index.seed, index.mode).cache()
    val sigC = index.signatures
    val rpb = index.numHashes / index.bands
    val bb = minhashBuckets(sigB, idCol, index.bands, rpb, index.mode)
    val cb = index.buckets
    val numHashes = index.numHashes
    def est(sa: Column, sb: Column): Column =
      graft.plans.VectorExpressions.vectorEqCount(sa, sb)
        .cast("double") / numHashes
    val dropVsCorpus = bb
      .select(col("band"), col("bucket"), col(idCol).as("__b"))
      .join(cb.select(col("band"), col("bucket"), col(idxBktId).as("__c")),
        Seq("band", "bucket"))
      .select("__b", "__c").distinct()
      .join(sigB.select(col(idCol).as("__b"), col("signature").as("sig_b")),
        "__b")
      .join(sigC.select(col(idxSigId).as("__c"),
        col("signature").as("sig_c")), "__c")
      .filter(est(col("sig_b"), col("sig_c")) >= threshold)
      .select(col("__b").as(idCol))
    val dropVsBatch = bb
      .select(col("band"), col("bucket"), col(idCol).as("id_a"))
      .join(bb.select(col("band"), col("bucket"), col(idCol).as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(sigB.select(col(idCol).as("id_a"), col("signature").as("sig_a")),
        "id_a")
      .join(sigB.select(col(idCol).as("id_b"), col("signature").as("sig_b")),
        "id_b")
      .filter(est(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("id_b").as(idCol))
    exactKept.join(dropVsCorpus.union(dropVsBatch).distinct(),
      Seq(idCol), "left_anti")
  }

  // ----------------------------------------- materialized corpus index

  /** Materialized minhash corpus index — the frames the incremental
    * probe consumes, built once when the corpus lands:
    *  - `hashes`     (id, content_hash)  — the exact-dedup stage
    *  - `signatures` (id, signature)     — the near-dup verify stage
    *  - `buckets`    (id, band, bucket)  — the LSH candidate stage
    * plus the build hyperparameters, so a probe can never run with
    * mismatched banding/seeds (they travel WITH the artifact, stamped in
    * the signature column's metadata on disk — the [[Sketches]]
    * convention). */
  final case class MinhashIndex(hashes: DataFrame, signatures: DataFrame,
                                buckets: DataFrame, numHashes: Int,
                                bands: Int, shingleSize: Int, seed: Long,
                                mode: HashMode)

  /** Each mode's `hashMode` stamp, written by [[writeMinhashIndex]] and
    * parsed back by [[readMinhashIndex]]. */
  private val StampedModes: Map[HashMode, String] =
    Map(HashMode.Xx -> "xx", HashMode.Md5 -> "md5")

  /** The minhash index's three data dirs for [[ArtifactMaintenance]],
    * each compacted by its PROBE key — hashes by content_hash, buckets
    * by (band, bucket), signatures by id — and signatures, the counted
    * dir carrying the stamps, last. */
  private val BucketsDir = ArtifactMaintenance.DataDir("buckets",
    Seq("band", "bucket"), _ => Seq("band", "bucket"))
  private val SignaturesDir = ArtifactMaintenance.DataDir("signatures",
    Seq("signature"), id => Seq(id))
  private val MinhashArtifact = ArtifactMaintenance.Artifact[MinhashIndex](
    Seq(ArtifactMaintenance.DataDir("hashes", Seq("content_hash"),
      _ => Seq("content_hash")), BucketsDir, SignaturesDir),
    idx => Seq(idx.hashes, idx.buckets, idx.signatures))

  /** Build the index frames in one corpus pass (signatures are cached —
    * they feed both the bucket derivation and the verify join; same
    * plan-lifetime cache convention as [[minhashPairs]]). */
  def buildMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleSize: Int = 3, seed: Long = 42L,
                        mode: HashMode = HashMode.Xx): MinhashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val hashes = corpus.select(col(idCol),
      md5(col(textCol).cast("binary")).as("content_hash"))
    val sigs = minhashSignatures(corpus, idCol, textCol, numHashes,
      shingleSize, seed, mode).cache()
    MinhashIndex(hashes, sigs,
      minhashBuckets(sigs, idCol, bands, numHashes / bands, mode),
      numHashes, bands, shingleSize, seed, mode)
  }

  /** Write the corpus index as three parquet dirs (`hashes/`,
    * `signatures/`, `buckets/`) under `path` — the write-once half of
    * the write-once / probe-per-batch split. The build hyperparameters
    * are stamped into the signature column's metadata so
    * [[readMinhashIndex]] reconstructs them from the artifact itself.
    * `sourceTag` (optional) records WHICH corpus the index was built
    * from — a caller that later probes the artifact can demand the tag
    * back ([[readMinhashIndex]]'s `expectedSource`) so an index that a
    * concurrent or earlier process built from different data fails
    * loudly instead of silently returning wrong survivors. */
  def writeMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        path: String, numHashes: Int = 64, bands: Int = 16,
                        shingleSize: Int = 3, seed: Long = 42L,
                        mode: HashMode = HashMode.Xx,
                        sourceTag: String = ""): Unit = {
    val idx = buildMinhashIndex(corpus, idCol, textCol, numHashes, bands,
      shingleSize, seed, mode)
    // appends copy this stamp verbatim onto their files, so parquet
    // schema resolution can read ANY file's footer and find the contract
    val b = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("numHashes", numHashes).putLong("bands", bands)
      .putLong("shingleSize", shingleSize).putLong("seed", seed)
      .putString("hashMode", StampedModes(mode))
    if (sourceTag.nonEmpty) b.putString("source", sourceTag)
    val meta = b.build()
    // the bloom comes from the STILL-CACHED signatures (r19, r18
    // verdict #4), not from a re-read of the just-written signatures/ —
    // at 100 TB a second object-storage scan of the id column
    ArtifactMaintenance.freshWrite(corpus.sparkSession, path,
        MinhashArtifact, counted = Some(idx.signatures)) {
      idx.hashes.write.mode("overwrite").parquet(s"$path/hashes")
      idx.signatures.select(col(idCol), col("signature").as("signature", meta))
        .write.mode("overwrite").parquet(s"$path/signatures")
      idx.buckets.write.mode("overwrite").parquet(s"$path/buckets")
    }
    idx.signatures.unpersist()
  }

  /** Read a [[writeMinhashIndex]] artifact back as probe-ready frames.
    * Hyperparameters come from the stamped signature metadata; a path
    * that is not a minhash index fails loudly here, not as a silent
    * recall collapse in the probe. `expectedSource` (optional) demands
    * the provenance tag stamped at write time: an index at the right
    * path but built from a DIFFERENT corpus (stale artifact, path
    * collision, concurrent writer) throws instead of probing. */
  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       expectedSource: Option[String] = None): MinhashIndex = {
    val (sigs, m) = ArtifactMaintenance.readStamped(spark, path,
      "signatures", "signature",
      Seq("numHashes", "bands", "shingleSize", "seed", "hashMode"),
      "minhash-index", "writeMinhashIndex")
    ArtifactMaintenance.requireSource(m, expectedSource,
      s"minhash index at $path", "dedup against")
    val name = m.getString("hashMode")
    val mode = StampedModes.collectFirst { case (md, `name`) => md }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown hashMode '$name' in index metadata at $path"))
    MinhashIndex(spark.read.parquet(s"$path/hashes"), sigs,
      spark.read.parquet(s"$path/buckets"),
      m.getLong("numHashes").toInt, m.getLong("bands").toInt,
      m.getLong("shingleSize").toInt, m.getLong("seed"), mode)
  }

  /** Append a probed batch's SURVIVORS to a written index — the third
    * leg of the incremental cycle: [[writeMinhashIndex]] once when the
    * corpus lands, [[incrementalSurvivors]] per batch, then this, so
    * the NEXT batch dedups against the grown corpus (without it, every
    * later batch would re-admit duplicates of earlier survivors). Only
    * the survivors' own hash/signature/bucket rows are computed and
    * appended as new parquet files — O(batch) work, the corpus-sized
    * artifact is never rewritten. Hyperparameters come from the index
    * metadata (appended rows are derived exactly like the originals),
    * the SAME metadata is stamped onto the appended signature files
    * (schema resolution may read any one file's footer), and id
    * columns are renamed to the index's own id column name.
    *
    * `requireNewIds` (default on, r17 — the r16 verdict's #3): refuse
    * a batch sharing ids with the index. Without it a RE-DELIVERED
    * drop (the crash-retry scenario the rest of this artifact family
    * defends against) silently double-counts signatures and inflates
    * bucket collision stats in every later probe. The check is the
    * shared bloom-gated guard ([[ArtifactMaintenance.append]], which
    * also fixes the write order): a clean drop never scans signatures/
    * at all. Turn it off only when upstream id discipline guarantees
    * disjointness — [[streamingDedup]]'s probe-then-append cycle keeps
    * it on: [[incrementalSurvivors]] already drops ids the index holds,
    * so a replayed micro-batch appends an empty frame and passes the
    * guard vacuously. */
  def appendToMinhashIndex(survivors: DataFrame, idCol: String,
                           textCol: String, path: String,
                           requireNewIds: Boolean = true): Unit =
    ArtifactMaintenance.append(MinhashArtifact, path, survivors, idCol,
        requireNewIds, "appendToMinhashIndex")(
        readMinhashIndex(survivors.sparkSession, path)) { idx =>
      val add = buildMinhashIndex(survivors, idCol, textCol, idx.numHashes,
        idx.bands, idx.shingleSize, idx.seed, idx.mode)
      Seq(add.hashes, add.buckets, add.signatures)
    }

  /** Delete documents from a [[writeMinhashIndex]] artifact by id —
    * the minhash twin of
    * [[graft.operators.Similarity.deleteFromIvfPqResidualIndex]]
    * (right-to-be-forgotten): stamps are verified first through
    * [[readMinhashIndex]], then each of the three dirs is rewritten
    * WITHOUT the given ids via a left-anti join on its own id column and
    * swapped in crash-safe, signatures last
    * ([[ArtifactMaintenance.delete]]; dirs swap independently, so a
    * crash between dirs leaves a consistent-per-dir index whose retry
    * completes the delete). Hyperparameter stamps are preserved
    * verbatim. Ids absent from the index are a no-op. Returns the
    * number of documents removed (signature rows — one per doc). */
  def deleteFromMinhashIndex(ids: DataFrame, idCol: String,
                             path: String): Long =
    ArtifactMaintenance.delete(MinhashArtifact, path, ids, idCol)(
      readMinhashIndex(ids.sparkSession, path))

  /** Compact a [[writeMinhashIndex]] artifact after a run of
    * [[appendToMinhashIndex]] drops — the maintenance twin of
    * [[graft.operators.Similarity.compactIvfPqResidualIndex]]: every
    * append lands its own parquet files in all THREE dirs, and a year
    * of daily drops leaves thousands of small files whose per-file
    * open/footer cost dominates the probe long before data volume does.
    * Each dir rewrites at `targetPartitions` (default: the session's
    * shuffle parallelism), repartitioned by its probe key (see
    * [[MinhashArtifact]]), with every stamp preserved verbatim
    * ([[ArtifactMaintenance.compact]]). */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          targetPartitions: Int = 0): Unit =
    ArtifactMaintenance.compact(MinhashArtifact, spark, path,
      targetPartitions)(readMinhashIndex(spark, path))

  /** Continuous-ingest dedup: the probe-then-append cycle as a
    * Structured Streaming sink. Each micro-batch is probed against the
    * index AS OF that batch ([[incrementalSurvivors]]), the survivors
    * are appended to the index ([[appendToMinhashIndex]]) and handed to
    * `sink` — so every later micro-batch dedups against everything
    * admitted before it. Call `.start()` (after setting a
    * checkpointLocation) on the returned writer.
    *
    * ORDERING SUBTLETY — the reason this helper exists rather than
    * three obvious lines in user code: the survivor frame is
    * MATERIALIZED (`localCheckpoint`) BEFORE the append. A lazy
    * survivor plan re-executed after the append would re-probe the
    * GROWN index and drop the batch's own documents as duplicates of
    * themselves (every batch would come back empty). The checkpoint
    * pins the probe's answer to the index-as-of-batch-start.
    *
    * State lives in the index parquet dirs, not in Spark streaming
    * state — restart-safe, shared with batch jobs, unbounded-horizon
    * (contrast `dropDuplicatesWithinWatermark`, whose state is bounded
    * by the watermark). On a micro-batch REPLAY (failure after append,
    * before the sink commit) the re-run probes an index that already
    * contains the batch's survivors, so their content hashes drop them:
    * the replayed batch yields no new appends (content-level idempotent)
    * but `sink` then sees an empty frame for that batch — downstream
    * must tolerate at-least-once delivery, as with any foreachBatch
    * side effect. */
  def streamingDedup(stream: DataFrame, idCol: String, textCol: String,
                     indexPath: String, threshold: Double = 0.8)
                    (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       _: Long) =>
        // opened through the lifecycle: a crashed swap heals before the
        // probe reads the index, not only at the append
        val idx = ArtifactMaintenance.open(batch.sparkSession, indexPath,
          MinhashArtifact)(readMinhashIndex(batch.sparkSession, indexPath))
        val survivors = incrementalSurvivors(batch.toDF(), idx, idCol,
          textCol, threshold).localCheckpoint()
        appendToMinhashIndex(survivors, idCol, textCol, indexPath)
        sink(survivors)
    }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash fingerprints from token xxhash64 values: for each bit,
    * majority vote over tokens (2*popcount > n ⟺ the classic ±1 sum > 0).
    *
    * SWAR formulation: instead of 64 separate `sum(when(...))` aggregate
    * columns (64 hash-map slots updated per token), each token packs its
    * 64 bit-values into 16 longs of four 16-bit lanes and the aggregation
    * is 16 long sums — lane counts can't overflow 16 bits because tokens
    * are per-doc distinct (< 65536). Same shuffle shape (groupBy id with
    * map-side partials), 4x less aggregation state.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              mode: HashMode = HashMode.Xx): DataFrame = {
    val toks = df.repartition(col(idCol)).select(col(idCol),
      explode(array_distinct(split(trim(col(textCol)), "\\s+"))).as("tok"))
      .withColumn("h", hash64(col("tok"), mode))
    // pack: lane i (16-bit, i=0..3) of packed long k holds bit (4k + i)
    val packed = (0 until 16).map { k =>
      (0 until 4).map { i =>
        shiftleft(shiftright(col("h"), 4 * k + i).bitwiseAND(lit(1L)), 16 * i)
      }.reduce((a: Column, b: Column) => a.bitwiseOR(b)).as(s"p$k")
    }
    val aggs = (0 until 16).map(k => sum(col(s"p$k")).as(s"s$k")) :+
      count(lit(1)).as("n_tok")
    val sums = toks.select((col(idCol) +: packed): _*)
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    // unpack: bit j set iff 2*count(j) > n_tok, count(j) = lane (j%4) of s(j/4)
    val fp = (0 until 64).map { j =>
      val lane = shiftright(col(s"s${j / 4}"), 16 * (j % 4))
        .bitwiseAND(lit(0xFFFFL))
      when(lane * 2 > col("n_tok"), lit(1L << j)).otherwise(lit(0L))
    }.reduce((a: Column, b: Column) => a.bitwiseOR(b))
    sums.select(col(idCol), fp.as("simhash"))
  }

  /** Hamming-banded near-dup pairs over an EXISTING 64-bit fingerprint
    * column — the chunk pigeonhole shared by [[simhashPairs]] (text)
    * and [[Multimodal.imageDedupPairs]] (pixels, r15): split the 64
    * bits into `maxHamming + 1` chunks (the classic 4x16 at the
    * default band 3); a pair within the band flips at most
    * `maxHamming` chunks, so it shares at least one EXACT chunk and
    * candidates come from a chunk-equality join — recall is exact at
    * EVERY band (multi-index Hamming, Norouzi et al. 2012), and the
    * hamming filter runs BEFORE the distinct so the dedup shuffle
    * carries only true near-pairs, not every chunk collision. Looser
    * bands cost more, not less recall: chunk width 64/(maxHamming+1)
    * shrinks, so each chunk carries fewer bits of discrimination and
    * collision buckets grow — at band 7 an 8-bit chunk has only 256
    * values. Bands above 31 would leave 1-bit chunks (every doc
    * collides with half the corpus); refused as meaningless —
    * brute-force the pair space instead. */
  def hammingPairs(fp: DataFrame, idCol: String, fpCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming $maxHamming outside [0, 31]: banding past 31 leaves " +
        "1-bit chunks with no discrimination — brute-force the pair " +
        "space for a looser threshold")
    val nChunks = maxHamming + 1
    // chunk c covers fingerprint bits [off(c), off(c+1)) from the LSB;
    // widths differ by at most one bit so no chunk is starved
    val offsets = (0 to nChunks).map(i => i * 64 / nChunks)
    val chunks = fp.select(col(idCol), col(fpCol), posexplode(
      array((0 until nChunks).map { c =>
        val w = offsets(c + 1) - offsets(c)
        val mask = if (w >= 64) -1L else (1L << w) - 1L
        shiftright(col(fpCol), offsets(c)).bitwiseAND(lit(mask))
      }: _*)))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
    val l = chunks.select(col("chunk_idx"), col("chunk"),
      col(idCol).as("id_a"), col(fpCol).as("fp_a"))
    val r = chunks.select(col("chunk_idx"), col("chunk"),
      col(idCol).as("id_b"), col(fpCol).as("fp_b"))
    l.join(r, Seq("chunk_idx", "chunk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming, via
    * [[hammingPairs]]' chunk pigeonhole over the [[simhash]]
    * fingerprints. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   mode: HashMode = HashMode.Xx): DataFrame = {
    // fingerprints feed both join sides — materialize once via
    // localCheckpoint, don't recompute (r16, same stroke as the
    // r15-advised Multimodal pair operators): checkpoint blocks are
    // reclaimed by the ContextCleaner once the returned plan is
    // unreachable, so per-drop calls over a crawl never accumulate
    // registry-pinned cache entries. eager=false (r16 advice): no
    // Spark job fires at call time; the blocks are unreplicated and
    // non-recomputable, so cluster deployments needing executor-loss
    // resilience should substitute a reliable checkpoint
    val fp = simhash(df, idCol, textCol, mode)
      .localCheckpoint(eager = false)
    hammingPairs(fp, idCol, "simhash", maxHamming)
  }

  // ------------------------------------------------- exact n-gram jaccard

  /** Exact n-gram Jaccard pairs >= threshold via inverted-index join:
    * shuffle on shingle, count shared shingles per pair, then
    * |A ∩ B| / (|A| + |B| - |A ∩ B|). The pair space is only materialized
    * for pairs that actually share a shingle. At 100 TB, ubiquitous
    * shingles are the skew risk — cap them with maxDocFreq (standard
    * "stop-shingle" pruning). The prune is CONSERVATIVE /
    * false-negative (r18 wording fix, from the r17 advice): shared
    * stop-shingles are dropped from the intersection count while set
    * sizes stay unpruned, so any pair sharing at least one
    * stop-shingle gets an UNDERESTIMATED jaccard and may fall below
    * the threshold; exactness holds only for pairs sharing no
    * stop-shingle. The trade is deliberate — a pair held together
    * mainly by boilerplate is the one this prune exists to demote.
    *
    * CACHE LIFECYCLE: the shingle frame is `cache()`d for the plan's
    * lifetime (it feeds both join sides plus the set-size aggregate) —
    * callers running many queries per session should
    * `spark.catalog.clearCache()` between them, the same convention as
    * [[repeatedSpans]] and [[LanguageModel.selfScore]] (Verify does).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.8, n: Int = 3,
                        maxDocFreq: Option[Int] = None): DataFrame = {
    // the shingle frame fans out into three consumers (both join sides +
    // set sizes): cache it so tokenization runs once, spilling to disk at
    // scale rather than recomputing the scan
    val sh = shingles(df, idCol, textCol, n).cache()
    val pruned = maxDocFreq match {
      case Some(cap) =>
        // broadcast the STOP set (df > cap) and anti-join — NOT the keep
        // set: the keep set is nearly the whole shingle vocabulary
        // (unbroadcastable at scale, and BENCH_r07 measured the
        // multi-million-row broadcast hash relation costing more than the
        // df² rows it saves), while the stop set is bounded by
        // totalShingleRows / cap regardless of corpus size — only
        // boilerplate/ubiquitous shingles ever exceed the cap
        val stop = sh.groupBy("shingle").agg(count(lit(1)).as("df_count"))
          .filter(col("df_count") > cap).select("shingle")
        sh.join(broadcast(stop), Seq("shingle"), "left_anti")
      case None => sh
    }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("set_size"))
    val l = pruned.select(col("shingle"), col(idCol).as("id_a"))
    val r = pruned.select(col("shingle"), col(idCol).as("id_b"))
    val inter = l.join(r, "shingle").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("set_size").as("size_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("set_size").as("size_b")), "id_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ------------------------------------------- benchmark decontamination

  /** Benchmark decontamination: (corpus doc, benchmark doc) pairs whose
    * n-gram CONTAINMENT — |corpus ∩ bench| / |bench distinct n-grams| —
    * reaches `threshold`. The training-data hygiene op: a corpus doc
    * containing most of a benchmark item leaks that benchmark into
    * training. Deliberately asymmetric (containment, not Jaccard): a
    * long document quoting a short benchmark item must flag even though
    * their Jaccard is tiny.
    *
    * Inverted-index equi-join on the n-gram with the benchmark side
    * broadcast (benchmarks are MBs, corpora are TBs): the corpus is
    * scanned once, never shuffled, and the only exchange is the
    * per-pair intersection count — which exists only for pairs that
    * actually share an n-gram, never the cross space. */
  def contaminationPairs(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val cs = shingles(corpus, idCol, textCol, n)
      .withColumnRenamed(idCol, "corpus_id")
    val bs = shingles(bench, idCol, textCol, n)
      .withColumnRenamed(idCol, "bench_id")
    val bSizes = bs.groupBy("bench_id").agg(count(lit(1)).as("bench_size"))
    cs.join(broadcast(bs), "shingle")
      .groupBy("corpus_id", "bench_id").agg(count(lit(1)).as("shared"))
      .join(broadcast(bSizes), "bench_id")
      .withColumn("containment",
        col("shared").cast("double") / col("bench_size"))
      .filter(col("containment") >= threshold)
      .select("corpus_id", "bench_id", "containment")
  }

  // --------------------------------------------- embedding cosine near-dup

  /** Deterministic random hyperplanes: tables x bits x dim. */
  private[operators] def hyperplanes(tables: Int, bits: Int, dim: Int,
                                     seed: Long): Seq[Seq[Seq[Double]]] = {
    val r = new Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Seq.fill(dim)(r.nextGaussian())))
  }

  /** Oracle-replicable hyperplanes: component (t,b,d) is uniform in
    * [-1, 1], derived from the first 8 md5 hex chars of "p:t:b:d" — the
    * same value any engine computes as
    * `(('0x'||substr(md5('p:'||t||':'||b||':'||d),1,8))::BIGINT
    *   % 1000001 - 500000) / 500000.0`.
    * Uniform (vs gaussian) components are an equally valid sign-random-
    * projection family; integer-derived values make the double exact in
    * both engines. */
  private[graft] def md5Planes(tables: Int, bits: Int, dim: Int,
                               saltPrefix: String = "p:"): Seq[Seq[Seq[Double]]] =
    Seq.tabulate(tables)(t => Seq.tabulate(bits)(b => Seq.tabulate(dim) { d =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$saltPrefix$t:$b:$d".getBytes("UTF-8"))
      val h = ((digest(0) & 0xFFL) << 24) | ((digest(1) & 0xFFL) << 16) |
        ((digest(2) & 0xFFL) << 8) | (digest(3) & 0xFFL)
      (h % 1000001L - 500000L).toDouble / 500000.0
    }))

  /** Sign-random-projection bucket per table: (id, table, bucket) plus any
    * `extraCols` carried through from `df` (e.g. the vector itself, so a
    * probe join can score candidates without re-joining the corpus).
    *
    * Entirely narrow: one scan, one [[graft.plans.VectorSignBuckets]] call
    * computing every table's bucket in a single compact codegen'd loop
    * (planes are ONE constant double[], not per-element literals — the
    * earlier per-bit VectorDot-vs-literal form blew the whole-stage method
    * past the JIT compile threshold and ran interpreted), one posexplode —
    * no shuffle. */
  def embeddingBuckets(df: DataFrame, idCol: String, vecCol: String,
                       tables: Int = 8, bits: Int = 12, dim: Int = 64,
                       seed: Long = 42L,
                       mode: HashMode = HashMode.Xx,
                       extraCols: Seq[String] = Nil): DataFrame = {
    val planes = mode match {
      case HashMode.Xx => hyperplanes(tables, bits, dim, seed)
      case HashMode.Md5 => md5Planes(tables, bits, dim)
    }
    val flat = planes.flatten  // row-major (table x bit) -> plane vectors
    val buckets = graft.plans.VectorExpressions
      .vectorSignBuckets(col(vecCol), flat, bits)
    val keep = col(idCol) +: extraCols.map(col)
    df.select(keep :+ posexplode(buckets).as(Seq("table", "bucket")): _*)
  }

  /** Embedding near-dup pairs: LSH candidates (bucket join per table) then
    * exact cosine verification — only candidate pairs pay the O(dim) cost. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, tables: Int = 8,
                     bits: Int = 12, dim: Int = 64,
                     seed: Long = 42L,
                     mode: HashMode = HashMode.Xx): DataFrame = {
    // the bucket frame feeds both self-join sides: cache the NARROW
    // (id, table, bucket) projection so the corpus is scanned once, not
    // twice — at 100 TB the cache is ~tables x 16B/row, the re-scan is
    // the full corpus (same lifecycle convention as minhashPairs)
    val b = embeddingBuckets(df, idCol, vecCol, tables, bits, dim, seed,
      mode).cache()
    val l = b.select(col("table"), col("bucket"), col(idCol).as("id_a"))
    val r = b.select(col("table"), col("bucket"), col(idCol).as("id_b"))
    val cand = l.join(r, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      VectorFunctions.normSq(col(vecCol)).as("nsq_a"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      VectorFunctions.normSq(col(vecCol)).as("nsq_b"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", VectorFunctions.cosineFromParts(
        VectorFunctions.dot(col("vec_a"), col("vec_b")),
        col("nsq_a"), col("nsq_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with deterministic
    * k-means, compare vectors only WITHIN their cluster, and drop the
    * redundant (more-central) member of every high-cosine pair — the
    * published recipe for pruning semantically duplicated web data
    * before pre-training, where exact/minhash dedup can't see that two
    * differently-worded documents say the same thing.
    *
    * The drop rule is made deterministic and engine-portable: for every
    * within-cluster pair with cosine ≥ `threshold`, the member with the
    * HIGHER centroid similarity — lexicographic `(cent_cos, id)` max, so
    * ties fall to the higher id — is marked dropped. Keeping the
    * lower-centroid-similarity member preserves the cluster's outliers,
    * which is SemDeDup's published keep policy (§3.1 of the paper: "keep
    * examples with low similarity to the centroid"). A doc that is the
    * central member of ANY qualifying pair is dropped (greedy, like
    * [[keepFirst]]) — one pass, no iteration, stable under partitioning.
    *
    * Scale shape (the whole point of the algorithm): the pair space is
    * n²/k per cluster instead of n² — the clustering IS the blocking
    * structure, playing the role LSH buckets play in [[embeddingPairs]].
    * Cost at 100 TB: k-means is a bounded number of broadcast-assign +
    * posexplode-mean shuffles per iteration ([[Similarity.kmeans]]), the
    * assignment pass is one broadcast join (no corpus shuffle), and the
    * pair join shuffles the corpus ONCE on `cid`. Choose k ∝ n/1000 so
    * expected cluster size stays bounded; a skewed cluster bounds the
    * worst task at |c|² like any self-join hot key (same salting lever
    * as [[graft.operators.ScaleJoins.saltedJoin]] applies if one cluster
    * degenerates). Determinism end-to-end (lowest-id init + 6dp centroid
    * rounding in kmeans, md5-free pure arithmetic here) is what lets the
    * DuckDB oracle replay the entire pipeline value-for-value.
    *
    * Output: one row per input vector — (idCol, cid, cent_cos, kept) —
    * certifying every keep AND drop decision, not just the survivor set.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int = 2, threshold: Double = 0.6,
                    init: String = "lowest-id"): DataFrame = {
    val cents = Similarity.kmeans(df, idCol, vecCol, k, iters, init)
    val assigned = Similarity.ivfAssign(df, idCol, vecCol, cents)
    // per-vector centroid similarity: one broadcast join (k rows), then a
    // narrow cosine — cache the slim (id, cid, cent_cos) frame, it feeds
    // the pair join twice plus the final output (lifecycle convention of
    // minhashPairs/embeddingPairs: cache narrow derived frames, never the
    // corpus)
    val cs = df.join(assigned, idCol)
      .join(broadcast(cents), "cid")
      .withColumn("cent_cos", VectorFunctions.cosineFromParts(
        VectorFunctions.dot(col(vecCol), col("centroid")),
        VectorFunctions.normSq(col(vecCol)),
        VectorFunctions.normSq(col("centroid"))))
      .select(col(idCol), col("cid"), col(vecCol), col("cent_cos"))
      .cache()
    val a = cs.select(col("cid"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("cent_cos").as("cc_a"))
    val b = cs.select(col("cid"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("cent_cos").as("cc_b"))
    val pairs = a.join(b, Seq("cid")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.cosineFromParts(
        VectorFunctions.dot(col("va"), col("vb")),
        VectorFunctions.normSq(col("va")),
        VectorFunctions.normSq(col("vb"))))
      .filter(col("cosine") >= threshold)
    val dropped = pairs.select(
        when(struct(col("cc_a"), col("id_a")) >
             struct(col("cc_b"), col("id_b")), col("id_a"))
          .otherwise(col("id_b")).as(idCol))
      .distinct()
    cs.join(dropped.withColumn("_dropped", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cid"),
        round(col("cent_cos"), 4).as("cent_cos"),
        not(coalesce(col("_dropped"), lit(false))).as("kept"))
  }

  /** Survivor view shared by all pair-producers: drop every doc that has a
    * near-duplicate with a smaller id (single anti-join — no iterative
    * connected components needed for dedup-keep-first semantics).
    *
    * Semantics note — GREEDY, not cluster-exact: for a chain A~B, B~C
    * (without A~C) this keeps only A; C is dropped because it has *some*
    * smaller-id near-dup, even though its pair partner B was itself
    * dropped. That is the standard keep-first training-data dedup rule
    * (order-stable, one shuffle). If one representative per *connected
    * component* is required instead, run union-find over the pair edges —
    * e.g. iterative label propagation: repeat `id -> min(id, min over
    * neighbors)` joins until fixpoint (O(log n) rounds on realistic dup
    * graphs) — and keep ids equal to their component minimum. */
  def keepFirst(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol),
      "left_anti")

  /** Span-level exact-substring duplication: for every document, the
    * maximal token ranges whose every `n`-gram also appears in at least
    * `minDocs - 1` OTHER documents — the span analogue of doc-level
    * near-dup detection (the "dedup the repeated passage, keep the rest
    * of the doc" policy used for training-corpus substring dedup; same
    * problem the suffix-array approach solves, expressed as a
    * distributed inverted index over fixed-width grams).
    *
    * Shape: tokenize once (attribute, not re-evaluated per gram),
    * posexplode the sliding n-grams hashed to md5 BEFORE the shuffle (16
    * bytes per gram moves, not the n-token text), count distinct docs
    * per gram hash, keep repeated grams, then merge each doc's flagged
    * positions into maximal spans with the gaps-and-islands window
    * (pos - row_number is constant within a consecutive run). Shuffles:
    * one on gram hash, one on doc — both keyed, no n² anything. Output:
    * (idCol, span_start, span_end, n_grams), token positions 0-based
    * inclusive, span_end covering the last gram's tail.
    *
    * CACHE LIFECYCLE: the intermediate gram frame is `cache()`d for the
    * plan's lifetime (same convention as [[minhashPairs]]) — callers
    * running many such queries in one session should
    * `spark.catalog.clearCache()` between them (Verify does). */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 8, minDocs: Int = 2): DataFrame = {
    // the gram frame fans out into two consumers (the doc-frequency
    // aggregate and the join probe) — cache it so the corpus is scanned
    // and tokenized ONCE, not re-derived per consumer. At 100 TB the
    // cached (id, pos, 16-byte hash) projection is a fraction of the
    // corpus and spills to disk; the recompute is a second full
    // tokenization pass. Same plan-lifetime cache convention as
    // minhashPairs/ngramJaccardPairs (Verify clearCache()s between
    // queries). The single-scan property is pinned in PlanAuditSpec.
    val grams = df
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .filter(size(col("__toks")) >= n)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("__toks")) - n), i =>
          md5(array_join(slice(col("__toks"), i + 1, lit(n)), " ")
            .cast("binary")))))
      .select(col(idCol), col("pos"), col("col").as("g"))
      .cache()
    val rep = grams.groupBy("g")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("g")
    val hits = grams.join(rep, "g").select(col(idCol), col("pos"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    hits.withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + n - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__grp")
  }

  /** Cut token ranges out of documents — the REMOVAL half of substring
    * dedup ([[repeatedSpans]] is the detection half): given a span frame
    * `(idCol, span_start, span_end)` (token positions, 0-based
    * inclusive), rebuild each document's text without the tokens covered
    * by any of its spans. Pass [[repeatedSpans]] output directly for the
    * boilerplate-strip policy (remove every repeated passage everywhere);
    * for keep-one-copy semantics, pass the span frame through
    * [[dropKeptOccurrence]] first (it anti-joins away the
    * min-(id, span_start) occurrence per repeated passage).
    *
    * Output text is canonical whitespace (tokens re-joined with single
    * spaces) for EVERY doc, spanned or not — so the transform is
    * idempotent and engine-replicable. A fully-covered doc keeps an
    * empty string (the row is not dropped — downstream length filters
    * decide its fate, not a silent disappearance).
    *
    * Scale shape: one groupBy of the span frame (tiny — spans, not
    * tokens), one equi-join on the doc id, then a narrow per-row rebuild
    * (filter positions against the doc's own span array; spans per doc
    * are few, so the per-token `exists` probe is O(spans) against a
    * row-local array — no token-level shuffle, no range join). */
  def cutSpans(df: DataFrame, idCol: String, textCol: String,
               spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col(idCol)).agg(
      collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val toks = TextAnalysis.tokens(col(textCol))
    val covered: Column => Column = i =>
      exists(coalesce(col("__spans"),
          array().cast("array<struct<span_start:long,span_end:long>>")),
        s => i >= s.getField("span_start") && i <= s.getField("span_end"))
    val rebuilt = when(size(col("__toks")) === 0, lit(""))
      .otherwise(array_join(
        transform(
          filter(sequence(lit(0), size(col("__toks")) - 1),
            i => !covered(i)),
          i => element_at(col("__toks"), (i + 1).cast("int"))), " "))
    df.join(sp, Seq(idCol), "left")
      .withColumn("__toks", toks)
      .withColumn(textCol, rebuilt)
      .drop("__spans", "__toks")
  }

  /** Keep-one-copy span policy: drop, from a [[repeatedSpans]]-shaped
    * span frame, the single occurrence to PRESERVE per repeated passage —
    * the lexicographically first `(idCol, span_start)` among all spans
    * covering identical token text — so that [[cutSpans]] on the result
    * keeps one copy of each distinct covered passage in the corpus.
    * This is the policy training pipelines actually run
    * (strip-everywhere, the [[cutSpans]]-on-raw-spans default, deletes
    * the passage from the dataset entirely; keep-first preserves its
    * content exactly once).
    *
    * Passage identity is the covered token text itself: two spans are
    * occurrences of the same passage iff tokens
    * `[span_start..span_end]` re-join to the same string. Because
    * [[repeatedSpans]] merges adjacent repeats into MAXIMAL spans per
    * doc, a short repeat absorbed into a longer span in one doc but
    * standing alone in another covers different text in the two docs —
    * each is then its own passage group and both survive. That is the
    * deliberate granularity choice: dedup at the level the span frame
    * detected, not re-derived sub-passage matching.
    *
    * Scale shape: every step is span-frame-sized (span rows, not token
    * rows — spans are a tiny fraction of the corpus by construction):
    * one equi-join of the span frame against the docs' token arrays
    * (tokenized ONCE per doc, before the fan-out to span rows), one
    * groupBy-min of `struct(id, span_start)` per passage, one
    * anti-join. No windows, no n², nothing corpus-sized shuffles. */
  def dropKeptOccurrence(df: DataFrame, idCol: String, textCol: String,
                         spans: DataFrame): DataFrame = {
    val docToks = df.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__tk"))
    val withTxt = spans
      .join(docToks, Seq(idCol))
      .withColumn("__passage", array_join(
        slice(col("__tk"),
          (col("span_start") + 1).cast("int"),
          (col("span_end") - col("span_start") + 1).cast("int")), " "))
      .drop("__tk")
    val keep = withTxt.groupBy("__passage")
      .agg(min(struct(col(idCol), col("span_start"))).as("__k"))
      .select(col("__passage"), col("__k").getField(idCol).as(idCol),
        col("__k").getField("span_start").as("span_start"))
    withTxt.join(keep, Seq("__passage", idCol, "span_start"), "left_anti")
      .drop("__passage")
  }

  /** Connected components over a near-dup pair set: (id, cluster) where
    * cluster is the minimum id reachable through pair edges — the
    * union-find alternative to [[keepFirst]], for cluster-exact dedup
    * (one survivor per transitive duplicate group).
    *
    * Algorithm (distributed path): ALTERNATING LARGE-STAR / SMALL-STAR
    * contraction — see [[connectedComponentsFromEdges]] for the full
    * shape, round structure, convergence behavior (log-like on ARBITRARY
    * id layouts, pinned by the permuted-chain specs) and why the earlier
    * label-propagation-plus-shortcut formulation was replaced (it was
    * O(diameter) on permuted-id chains; the synthetic rig measured it).
    * Each round is a bounded number of keyed shuffles; every frame is
    * checkpointed with LINEAGE AND STATISTICS truncation (see
    * [[graft.plans.Checkpoints]] — without lineage truncation the plan
    * doubles every round and the job dies on planning; without stats
    * truncation Spark 4's localCheckpoint carries compounding size
    * estimates that overflow BigInteger around round 13).
    *
    * Star edges only ever re-point at smaller ids within the component,
    * so the fixpoint is exactly min-of-component for every node. If
    * `maxIter` rounds pass without a fixpoint the call THROWS rather
    * than silently returning partially contracted stars.
    *
    * Only ids that appear in `pairs` are returned — callers join back to
    * the corpus and coalesce singletons to their own id.
    *
    * ADAPTIVE EXECUTION: near-dup EDGES are a tiny fraction of the corpus
    * (a pair only exists where two documents already collide in an LSH
    * bucket and pass the similarity threshold), so even a 100 TB corpus
    * typically yields an edge set in the millions, not the billions. When
    * the pair count is at or below `smallGraphThreshold` (default 500k
    * pairs, collected as specialized long tuples ≈ ~20 MB transient on
    * the driver — NOT boxed Rows), the component labels are computed with
    * a single-pass path-compressed union-find on the driver: ONE action
    * total (a bounded limit-probe that doubles as the collect) instead of
    * ~log(n) rounds of 2-join-plus-checkpoint, which at interactive scale
    * is the difference between ~2 s of per-round scheduling overhead and
    * ~50 ms. Above the threshold the limit short-circuits and the
    * distributed star-contraction path runs unchanged (one extra bounded
    * pass over the pair stream) — that path has no driver materialization
    * and is the 1000-executor design. Both paths compute the same
    * fixpoint (min id per component); the property spec pins their
    * equality on random graphs. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b",
                          maxIter: Int = 50,
                          smallGraphThreshold: Int = DefaultSmallGraphThreshold): DataFrame = {
    // bounded probe: ask for threshold+1 pairs. On the small (common)
    // path this single action IS the union-find input — no edge
    // symmetrization, no checkpoint, no separate count. On the big path
    // the limit short-circuits and the distributed rounds recompute the
    // pair stream once into the materialized edge frame. The collect is a
    // TYPED Dataset[(Long, Long)] — the tuple encoder materializes
    // Tuple2 cells, not GenericRow wrappers over boxed Longs, keeping the
    // transient probe an order of magnitude under the old Row-based form.
    import pairs.sparkSession.implicits._
    val probe = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .limit(math.min(smallGraphThreshold.toLong + 1, Int.MaxValue).toInt)
      .as[(Long, Long)]
      .collect()
    if (probe.length <= smallGraphThreshold)
      driverUnionFind(pairs.sparkSession, probe)
    else connectedComponentsFromEdges(canonicalEdges(pairs, aCol, bCol), maxIter)._1
  }

  /** Driver-probe ceiling for the adaptive CC small path: 500k pairs.
    * Sized so the collected tuple array plus the union-find hash map stay
    * in the tens of MB on the driver — far below any sane driver heap —
    * while still covering the "millions of near-dup edges from a huge
    * corpus" regime via the distributed path. */
  val DefaultSmallGraphThreshold: Int = 500 * 1000

  /** Orientation-normalized edge frame (u >= v), one row per input pair,
    * self-loops preserved (they matter for the id universe, not the
    * contraction) — the distributed path's input. NOT symmetrized: the
    * star rounds derive the symmetric view per round from the canonical
    * half, so doubling + distincting the frame up front would shuffle 2x
    * the bytes only to throw half away. */
  private def canonicalEdges(pairs: DataFrame, aCol: String,
                             bCol: String): DataFrame = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    pairs.select(greatest(a, b).as("u"), least(a, b).as("v"))
  }

  /** Small-graph CC: path-compressed min-label union-find over collected
    * pairs (direction/duplication irrelevant to union-find). Exact and
    * deterministic; only reachable behind the size gate above. */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
                              es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root)
        root = parent.getOrElse(root, root)
      // path compression
      var cur = x
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent.getOrElse(cur, cur)
        parent(cur) = root
        cur = next
      }
      root
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // min id wins the root so the fixpoint matches the distributed path
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    ids.toSeq.sorted.map(id => (id, find(id))).toDF("id", "cluster")
  }

  /** Partition-local union-find contraction: replaces each partition's
    * edge rows with the star forest of their LOCAL components — one
    * `(node, local-min)` edge per non-root node. Connectivity-exact:
    * a star forest has exactly its input edges' connectivity, and the
    * union over partitions therefore has the full graph's (nodes shared
    * across partitions stitch the local stars back together in the
    * global rounds). Entirely NARROW — no shuffle; the win is what it
    * does to the first shuffle downstream: a partition holding a
    * near-dup family's clique (the shape LSH pair producers emit, all
    * of a bucket's pairs from one task) forwards O(nodes) star edges
    * instead of O(nodes²) pair rows.
    *
    * Memory: one open-addressing long→long table over the partition's
    * DISTINCT endpoints — bounded by partition size the same way a
    * hash-aggregate build is, except it cannot spill; `maxNodesPerTable`
    * (default 4M ≈ 64 MB of table arrays) caps it by FLUSHING — the
    * current table's stars are emitted and a fresh table continues the
    * stream. Correct because CC(E₁ ∪ E₂) = CC(stars(E₁) ∪ stars(E₂));
    * a flush boundary only costs contraction quality, never answers.
    *
    * Output is canonically oriented (node > local-min root always) with
    * no self-loops; cross-batch duplicate stars are possible and left
    * to the caller's `distinct()`. */
  private[graft] def localContract(edges: DataFrame,
                                   maxNodesPerTable: Int = 4 << 20): DataFrame = {
    require(maxNodesPerTable >= 4, "maxNodesPerTable must be at least 4")
    import edges.sparkSession.implicits._
    edges.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        new Iterator[(Long, Long)] {
          private var out: Iterator[(Long, Long)] = Iterator.empty
          private def advance(): Unit =
            while (!out.hasNext && it.hasNext) {
              val t = new CcLocalTable(64)
              // +2: a union may add two fresh nodes; check before, not mid-row
              while (it.hasNext && t.size + 2 <= maxNodesPerTable) {
                val e = it.next()
                t.union(e._1, e._2)
              }
              out = t.starEdges()
            }
          override def hasNext: Boolean = { advance(); out.hasNext }
          override def next(): (Long, Long) = { advance(); out.next() }
        }
      }
      .toDF("u", "v")
  }

  /** Per-partition contraction-probe sample for the [[localContract]]
    * gate: how many edges went in, how many star edges would come out,
    * and the node count of the largest LOCAL component formed. */
  private[graft] final case class ProbeStat(edgesIn: Long, starsOut: Long,
                                            maxComponentNodes: Int)

  /** Bounded sampled probe for the [[localContract]] gate (r12 verdict
    * #4: the pre-pass cost +14% on the uniform rig where it cannot
    * win). Runs the SAME union-find table over a bounded prefix of up
    * to three partitions (first/middle/last — `sc.runJob` on just those
    * partition ids, never a full-RDD job) of an already-checkpointed
    * edge frame, and reports per-partition [[ProbeStat]]s for
    * [[preContractWorthwhile]] to judge.
    *
    * The pre-pass wins three distinct ways, and the probe's two
    * signals cover all of them:
    *  - EDGE CONTRACTION (starsOut << edgesIn): clique-shaped streams —
    *    an LSH bucket's O(family²) pair rows collapse to O(family)
    *    stars, shrinking the first shuffle's bytes;
    *  - LOCAL STRUCTURE (a local component of ≥ 3 nodes): any such
    *    component has diameter ≥ 2, so flattening it to a depth-1 star
    *    saves global contraction rounds (measured r13, uniform
    *    41-node-chain rig, same chunk same JVM: 17.6 s with the pass
    *    vs 25.1 s without — the r12 "+14% uniform tax" read was
    *    cross-round regime noise, the same class the dd50k bisect
    *    exposed); the extreme case is a hub component spanning the
    *    partition, where re-pointing every node at the local min also
    *    splits the hub's downstream groupBy key (the 1.8x
    *    `precontract_tames_skew_cc2m` win).
    * The only stream with NEITHER signal is disjoint pairs (every
    * local component exactly one edge): stars(E) = E there, so the
    * pass rewrites the input to itself and is pure scan tax — that is
    * the shape the probe skips. */
  private[graft] def contractionProbe(edges: DataFrame): Seq[ProbeStat] = {
    import edges.sparkSession.implicits._
    val rdd = edges.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)].rdd
    val n = rdd.getNumPartitions
    if (n == 0) return Nil
    val parts = Seq(0, n / 2, n - 1).distinct
    edges.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[(Long, Long)]) => {
        val t = new CcLocalTable(64)
        var in = 0L
        while (it.hasNext && in < ProbeEdgeCap) {
          val e = it.next(); t.union(e._1, e._2); in += 1
        }
        var stars = 0L
        val se = t.starEdges()
        while (se.hasNext) { se.next(); stars += 1 }
        ProbeStat(in, stars, t.maxComponentNodes())
      }, parts).toSeq
  }

  /** The gate decision over [[contractionProbe]] samples: engage the
    * pre-pass when ANY probed partition shows either win signal, or
    * when the probe is inconclusive (too few sampled edges everywhere —
    * skew immunity is the scale-safe default, and on that little data
    * the pass costs nothing). */
  private[graft] def preContractWorthwhile(stats: Seq[ProbeStat]): Boolean =
    if (stats.forall(_.edgesIn < ProbeMinEdges)) true
    else stats.exists(s =>
      s.edgesIn >= ProbeMinEdges &&
        (s.starsOut.toDouble <= PreContractRatioGate * s.edgesIn ||
          s.maxComponentNodes >= ProbeComponentGate))

  /** Probe reads at most this many edges per sampled partition — enough
    * for the signals to be meaningful, bounded so the probe never
    * becomes the cost it exists to avoid. */
  private[graft] val ProbeEdgeCap: Long = 100 * 1000

  /** Below this many sampled edges (in every probed partition) the
    * probe is inconclusive and the pre-pass defaults ON. */
  private[graft] val ProbeMinEdges: Long = 1024

  /** Edge-contraction gate: engage when starsOut <= gate x edgesIn.
    * Modest near-dup families already clear it (a 5-doc family's 10
    * clique edges contract to 4 stars, 0.4x); disjoint-pair and chain
    * streams sit at ~1.0. */
  private[graft] val PreContractRatioGate: Double = 0.75

  /** Local-structure gate: engage when any probed local component has
    * at least this many nodes — 3 is the smallest component with
    * diameter 2, i.e. the smallest whose flattening can save global
    * rounds. Only a pure disjoint-pair stream (every component one
    * edge, stars(E) = E) sits below it. */
  private[graft] val ProbeComponentGate: Int = 3

  /** Open-addressing long→long union-find for [[localContract]]: keys
    * are node ids, values are parent KEYS (growth-safe — slot indices
    * move on rehash, keys do not). Union keeps the SMALLER root, so a
    * tree's root is the minimum id ever unioned into it and every
    * emitted `(node, root)` edge is canonically oriented for free.
    * Path compression on find keeps chains shallow (same discipline as
    * [[driverUnionFind]], minus the boxing — the fused-planes lesson
    * from the BPE trainer's [[PairTable]]). Sentinel is Long.MinValue;
    * a genuine Long.MinValue node id is rejected up front rather than
    * silently colliding with the sentinel. */
  private final class CcLocalTable(initialCap: Int) {
    private val Empty = Long.MinValue
    private var cap = Integer.highestOneBit(math.max(initialCap, 16))
    private var mask = cap - 1
    private var keys = {
      val a = new Array[Long](cap); java.util.Arrays.fill(a, Empty); a
    }
    private var par = new Array[Long](cap)
    var size: Int = 0
    private def home(k: Long): Int = {
      var h = k * -7046029254386353131L
      h ^= (h >>> 32)
      h.toInt & mask
    }
    /** Slot of key k, inserting it as its own root if absent. */
    private def slot(k: Long): Int = {
      var i = home(k)
      while (keys(i) != k && keys(i) != Empty) i = (i + 1) & mask
      if (keys(i) == Empty) {
        keys(i) = k
        par(i) = k
        size += 1
        if (size * 4 > cap * 3) { grow(); return slot(k) }
      }
      i
    }
    private def grow(): Unit = {
      val ok = keys; val op = par
      cap <<= 1
      mask = cap - 1
      keys = new Array[Long](cap); java.util.Arrays.fill(keys, Empty)
      par = new Array[Long](cap)
      var i = 0
      while (i < ok.length) {
        if (ok(i) != Empty) {
          var j = home(ok(i))
          while (keys(j) != Empty) j = (j + 1) & mask
          keys(j) = ok(i); par(j) = op(i)
        }
        i += 1
      }
    }
    /** Root key of k's tree, path-compressing as it goes. */
    private def find(k: Long): Long = {
      var root = k
      var i = slot(root)
      while (par(i) != root) { root = par(i); i = slot(root) }
      var cur = k
      while (cur != root) {
        val j = slot(cur)
        val next = par(j)
        par(j) = root
        cur = next
      }
      root
    }
    def union(a: Long, b: Long): Unit = {
      require(a != Empty && b != Empty,
        "localContract: node id Long.MinValue collides with the table sentinel")
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) par(slot(rb)) = ra
      else if (rb < ra) par(slot(ra)) = rb
    }
    /** Drain the table as `(node, component-local-min)` star edges,
      * roots and isolated self-loop nodes excluded. */
    def starEdges(): Iterator[(Long, Long)] = {
      val ks = keys // growth is over; indices are stable from here on
      (0 until cap).iterator
        .filter(i => ks(i) != Empty)
        .map { i => val k = ks(i); (k, find(k)) }
        .filter(e => e._1 != e._2)
    }

    /** Node count of the largest component currently in the table —
      * [[contractionProbe]]'s degree-concentration signal. Probe-only
      * (a boxed per-root map over at most ProbeEdgeCap-edge tables),
      * never on the contraction hot path. */
    def maxComponentNodes(): Int = {
      val counts = scala.collection.mutable.HashMap.empty[Long, Int]
      var i = 0
      var mx = 0
      while (i < cap) {
        if (keys(i) != Empty) {
          val r = find(keys(i))
          val c = counts.getOrElse(r, 0) + 1
          counts(r) = c
          if (c > mx) mx = c
        }
        i += 1
      }
      mx
    }
  }

  /** [[connectedComponents]] plus the number of rounds it took — the
    * round count is what the convergence specs pin. `preContract=false`
    * skips the partition-local union-find pre-pass (see
    * [[localContract]]) — the control contender CcRigSpec measures the
    * pre-pass against. */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 50, preContract: Boolean = true): (DataFrame, Int) =
    connectedComponentsFromEdges(canonicalEdges(pairs, aCol, bCol), maxIter,
      preContract)

  /** Distributed CC over an orientation-normalized edge frame (see
    * [[canonicalEdges]]) — the above-threshold path: ALTERNATING
    * LARGE-STAR / SMALL-STAR contraction (the Kiveris/Lattanzi/Mirrokni/
    * Rastogi/Vassilvitskii "Connected Components in MapReduce and
    * Beyond" algorithm, the standard shared-nothing CC).
    *
    * Each round rewires the EDGE SET toward component minima:
    *  - large-star: every node u computes m = min(Γ(u) ∪ {u}) and
    *    re-points its strictly-larger neighbors at m;
    *  - small-star: every node u computes m over its ≤-neighbors and
    *    itself, and re-points those neighbors (and itself) at m.
    * The fixpoint is a forest of stars centered on each component's
    * minimum id. Convergence is O(log² n) rounds worst-case and
    * ~log-like in practice — crucially on ARBITRARY id layouts. (The
    * previous formulation here — min-label propagation plus one
    * label(label) shortcut — hit its log bound only on monotone-id
    * chains, where label(x) happens to sit 2^k hops away; on the
    * permuted-id chain rig it degraded to ~1.5 hops/round, i.e.
    * O(diameter). Measured, not asserted: the rig caught it.)
    *
    * Every round is a bounded number of keyed shuffles (2 groupBy-mins,
    * 2 equi-joins, 2 distincts, plus the anti-join convergence check);
    * skew at a star center (the component min of a huge component
    * accumulates degree ~component size) is the documented hot spot of
    * the algorithm — AQE skew-join handling splits those reducers, and
    * the groupBy side is safe (map-side partial min). Frames are
    * checkpointed with [[graft.plans.Checkpoints]] (lineage AND stats).
    *
    * `preContract` (default on) ALLOWS [[localContract]] — a NARROW
    * partition-local union-find pass — before the first global shuffle,
    * replacing each partition's edge rows with an equivalent local star
    * forest. Near-dup pair producers emit pairs bucket-by-bucket (an
    * LSH bucket's candidate pairs materialize inside the task that
    * grouped the bucket), so the edge stream arrives CLUSTERED: a
    * duplicate family's clique lands in one partition and the pre-pass
    * collapses its O(family²) rows to O(family) star edges before
    * anything shuffles, leaving the rounds to start from near-fixpoint
    * stars. Semantically transparent (a partition's star forest has
    * exactly its edges' connectivity — the equality spec pins it).
    * Whether the pass actually RUNS is decided by [[contractionProbe]]
    * (r13, r12 verdict #4): on a stream with no locality the pass is
    * pure overhead (+14% on the uniform 2M-edge rig), so one bounded
    * single-partition probe measures the local contraction ratio first
    * and skips the pass when it would buy nothing. `preContract=false`
    * skips probe and pass both (CcRigSpec's control contender). */
  private def connectedComponentsFromEdges(
      edges0: DataFrame, maxIter: Int,
      preContract: Boolean = true): (DataFrame, Int) = {
    // materialize the pair stream ONCE: the id-universe scan and the
    // loop-init both derive from this checkpoint — without it an
    // expensive upstream pair pipeline (the LSH dedup query feeding
    // dd_clusters) would be re-executed three times
    val edges = graft.plans.Checkpoints.truncated(edges0)
    // every endpoint (from the canonical frame, so self-loop-only nodes
    // are covered too); they coalesce to themselves at the end
    val allIds = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id"))).distinct()
    // strict canonical (u > v) edge list for the rounds: self-loops out
    // (localContract emits none by construction). The distinct() is the
    // first shuffle either way — the pre-pass shrinks what feeds it
    // from raw pair rows to at most one star edge per distinct node
    // per partition, and leaves the rounds starting from near-fixpoint
    // stars wherever the pair stream arrived clustered.
    val init =
      if (preContract && preContractWorthwhile(contractionProbe(edges)))
        localContract(edges)
      else edges.filter(col("u") =!= col("v"))
    // Shuffle width inside the rounds: MEASURED and left at session
    // parallelism (r19, closing r18 verdict #3). The verdict's
    // byte-sized-width fix — the loop scoped under AQE
    // coalescePartitions.parallelismFirst=false so post-shuffle
    // partitions follow advisoryPartitionSizeInBytes — was implemented
    // and A/B'd same-mode at sf0.1: it coalesced every round's tiny
    // keyed shuffles to ~1 task, SERIALIZING a CPU-bound loop —
    // bench_cc600k_dist 10.8 -> 18.4 s, cc450k_dist 10.3 -> 15.5 s,
    // and the no-pre-pass skew control 12.1 -> 73.7 s (the hub
    // component's ~0.5M edges on one core). Reverted per guide §1's
    // empirical loop. The r18 driver-host inversion that motivated it
    // (22.7 s @32c vs 12.4 s @8c) did not reproduce on this host
    // (10.8 vs 10.1, inside the run spread): host GC regime, not plan
    // shape. At 100 TB the advisory-size coalescing this would have
    // enabled is a no-op anyway (edge frames exceed the target at any
    // width) — there is no scale story lost by keeping full width.
    var (cur, curCount) = graft.plans.Checkpoints.truncatedWithCount(
      init.distinct())
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: m(u) = min(Γ(u) ∪ {u}); re-point neighbors v > u.
      // Γ(u) needs the symmetric view, but the >-neighbor rows are
      // EXACTLY the swapped copy of the canonical list — no filter.
      // Every canonical edge (a < b) is emitted exactly once, from its
      // smaller endpoint's star, and v > u >= m keeps (u, v) canonical.
      val swapped = cur.select(col("v").as("u"), col("u").as("v"))
      val mL = cur.union(swapped).groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = swapped
        .join(mL, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: m(u) = min over {v ∈ Γ(u): v <= u}. On the canonical
      // (u > v) list those below-neighbor rows are exactly `large`
      // itself — no resymmetrize+filter. Re-point them and u at m; both
      // outputs stay canonical (m <= every below neighbor < u).
      val mS = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(mS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mS.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
      val (next, nextCount) = graft.plans.Checkpoints.truncatedWithCount(small)
      // fixpoint = identical edge set. Both sides are deduped, so equal
      // cardinality + (next \ cur) empty ⟹ set equality — the count is
      // free (it materialized the checkpoint), leaving ONE anti-join,
      // skipped entirely when the counts already differ.
      converged = nextCount == curCount &&
        next.join(cur, Seq("u", "v"), "left_anti").isEmpty
      cur = next
      curCount = nextCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "raise maxIter for extreme-diameter graphs")
    // fixpoint stars: (u -> component min); roots/singletons map to self
    val stars = cur.select(col("u").as("id"), col("v").as("cluster"))
    val labels = allIds.join(stars, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    (labels, iter)
  }

  /** Cluster-exact survivors: keep exactly one doc (the min id) per
    * connected near-dup component — the transitive counterpart of
    * [[keepFirst]] (see the chain example in its scaladoc). */
  def keepFirstExact(df: DataFrame, idCol: String,
                     pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    val dropped = cc.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Cluster-exact BEST-copy survivors: keep exactly one doc per
    * connected near-dup component — the one maximising `score` (ties
    * broken by min id, so the result is deterministic for any score).
    * The policy real training pipelines run when copies differ in
    * quality: near-dup web pages keep the longest / highest-quality
    * extraction, not whichever crawled first ([[keepFirstExact]] is the
    * min-id special case).
    *
    * Scale shape: the component labels come from the same adaptive
    * [[connectedComponents]]; picking the winner is one
    * `row_number` window partitioned BY CLUSTER (a normal hash shuffle
    * on the cluster key — never a global single-partition window), so
    * the whole op is CC + one shuffle regardless of corpus size. */
  def keepBest(df: DataFrame, idCol: String, pairs: DataFrame,
               score: Column): DataFrame = {
    val cc = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val labeled = df.join(cc, Seq(idCol), "left")
      .withColumn("__kb_cluster", coalesce(col("cluster"), col(idCol)))
      .drop("cluster")
    val w = Window.partitionBy(col("__kb_cluster"))
      .orderBy(score.desc, col(idCol).asc)
    labeled.withColumn("__kb_rn", row_number().over(w))
      .filter(col("__kb_rn") === 1)
      .drop("__kb_rn", "__kb_cluster")
  }

  // ------------------------------------------------- synthetic scale rigs

  /** Deterministic synthetic edge set with planted worst-case components —
    * the scale rig for measuring the adaptive-CC crossover (driver
    * union-find below [[DefaultSmallGraphThreshold]] vs distributed
    * star contraction above it) at edge counts the sf0.1 contract data
    * can't reach (~500 pairs there).
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
  /** The odd multiplier of the rigs' id-scattering bijection
    * `i -> i * m mod n`: first odd candidate >= 1e6 coprime with n — a
    * fixed, reproducible rule shared by every synthetic rig so their id
    * layouts stay comparable. Bounded by m * n < 2^63 (n < ~9·10^12). */
  private def permMultiplier(nNodes: Long): Long = {
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    Iterator.iterate(1000003L)(_ + 2).find(c => gcd(c, nNodes) == 1).get
  }

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
    * [[connectedComponentsFromEdges]]).
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
}
