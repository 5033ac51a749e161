package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.PlanCounters._
import graft.operators.Dedup

/** The near-dup crossover rigs at test scale: planted near-dup corpora
  * of 1,000 and 4,000 docs (families of 20, 20% of docs carrying a
  * shared 13-token boilerplate block — the cross-family shingles whose
  * doc-frequency squared the exact join pays for), the incremental
  * index-probe rig and the embedding LSH rig. Conclusions are asserted
  * on counted rows, never on seconds. */
class DedupRigSpec extends RigSpec {

  private val Threshold = 0.7
  // stop-shingle cap: above the family size (20), below the boilerplate
  // doc-frequency (~200 at 1k docs)
  private val PruneCap = 100

  private def corpus(nDocs: Long): DataFrame =
    Rigs.syntheticNearDupCorpus(spark, nDocs, familySize = 20,
      boilerplateFrac = 0.2).localCheckpoint()
  private lazy val small = corpus(1000)
  private lazy val large = corpus(4000)

  private def naive(df: DataFrame) = Dedup.ngramJaccardPairs(df, "doc_id",
    "text", threshold = Threshold, n = 3)
  private def pruned(df: DataFrame) = Dedup.ngramJaccardPairs(df, "doc_id",
    "text", threshold = Threshold, n = 3, maxDocFreq = Some(PruneCap))
  private def minhash(df: DataFrame) = Dedup.minhashPairs(df, "doc_id",
    "text", threshold = Threshold)

  test("pair recall >= 0.8 against the exact pair set for minhash and " +
      "for pruned n-gram") {
    val exact = naive(small).select("id_a", "id_b").localCheckpoint()
    assert(exact.count() > 0)
    for ((name, df) <- Seq("minhash" -> minhash(small),
                           "ngram_pruned" -> pruned(small))) {
      val r = exact.join(df.select(col("id_a"), col("id_b"),
          lit(1L).as("hit")), Seq("id_a", "id_b"), "left")
        .agg(sum(coalesce(col("hit"), lit(0L))) / count(lit(1)))
        .head().getDouble(0)
      info(f"pair recall[$name] = $r%.4f")
      assert(r >= 0.8, s"$name pair recall $r below the 0.8 floor")
    }
  }

  test("candidate pair rows: minhash <= pruned <= naive, naive grows " +
      "superlinearly and minhash roughly linearly with the corpus") {
    // candidate pair rows = the widest join's output: shingle-sharing
    // pair rows for n-gram, band-collision pair rows for minhash
    def rows(df: DataFrame) = joinOutputRowsOf(df).head
    val (n1, p1, m1) = (rows(naive(small)), rows(pruned(small)),
      rows(minhash(small)))
    val (n4, m4) = (rows(naive(large)), rows(minhash(large)))
    info(s"1k docs: naive=$n1 pruned=$p1 minhash=$m1; 4k docs: " +
      f"naive=$n4 (${n4.toDouble / n1}%.2fx) minhash=$m4 " +
      f"(${m4.toDouble / m1}%.2fx)")
    // measured: pruned 1.45x under naive, minhash 6.4x under pruned;
    // 4x docs grew naive 7.3x and minhash 4.1x. Bounds carry a 1.3x
    // margin; linear growth is 4x
    assert(p1 * 1.12 < n1)
    assert(m1 * 4.9 < p1)
    assert(n4 > 5.5 * n1)
    assert(m4 < 5.3 * m1)
  }

  test("index probe scans no corpus rows; the inline recompute scans " +
      "the whole corpus, same survivors") {
    val base = java.nio.file.Files.createTempDirectory("graft_ddinc_rig")
    val docs = small
    val (cDir, bDir, iDir) = (base.resolve("corpus").toString,
      base.resolve("batch").toString, base.resolve("index").toString)
    // the cut splits family 39 (docs 780-799), so the batch carries
    // near-dups of corpus docs for the index to find
    docs.filter(col("doc_id") < 790).write.parquet(cDir)
    docs.filter(col("doc_id") >= 790).write.parquet(bDir)
    val (c, b) = (spark.read.parquet(cDir), spark.read.parquet(bDir))
    val inline = Dedup.incrementalSurvivors(b, c, "doc_id", "text",
      threshold = 0.8)
    Dedup.writeMinhashIndex(c, "doc_id", "text", iDir)
    val probe = Dedup.incrementalSurvivors(b,
      Dedup.readMinhashIndex(spark, iDir), "doc_id", "text",
      threshold = 0.8)
    val ids = (df: DataFrame) =>
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(inline) == ids(probe))
    // every batch member of the split family has corpus near-dups;
    // keep-first inside the batch alone would keep its first non-exact
    // copy
    assert((790L until 800L).forall(id => !ids(probe).contains(id)),
      "a batch doc of the split family survived its corpus near-dups")
    // counted after the index write: the write builds the same per-id
    // frame, and leaves the cache the inline plan made in place
    val (ri, rp) = (scanOutputRowsOf(inline, cDir),
      scanOutputRowsOf(probe, cDir))
    info(s"corpus rows scanned: inline=$ri probe=$rp")
    // the hashes, signatures and buckets come from ONE corpus pass
    assert(rp == 0 && ri == 790)
  }

  test("embedding LSH scores far fewer pairs than the brute pair scan") {
    val emb = Rigs.syntheticClusteredCorpus(spark, 2000,
      clusters = 100).localCheckpoint()
    val lsh = Dedup.embeddingPairs(emb, "vec_id", "embedding",
      threshold = 0.9, tables = 8, bits = 8)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.cosine(col("va"), col("vb"))
          .as("cosine"))
      .filter(col("cosine") >= 0.9)
    assert(lsh.count() > 0 && brute.count() >= lsh.count())
    // the nested loop scores every id_a < id_b pair; LSH scores at most
    // its bucket-collision rows (the widest join of its plan)
    assert(hasNestedLoopJoin(brute) && !hasNestedLoopJoin(lsh))
    val (pl, pb) = (joinOutputRowsOf(lsh).head, 2000L * 1999 / 2)
    info(s"pairs scored: lsh<=$pl brute=$pb")
    // measured 14.4x fewer; the bound carries a 1.3x margin
    assert(pl * 11 < pb)
  }
}
