package graft

import org.apache.spark.sql.functions._

import graft.core.EngineError.AnalysisError
import graft.operators.{ArtifactMaintenance, Dedup}

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "spark makes big data simple and fast for everyone today"
  private def corpus = Seq(
    (0L, base),
    (1L, base),                                     // exact dup of 0
    (2L, base.replace("fast", "quick")),            // near dup of 0
    (3L, "completely different text about cooking pasta with tomato sauce"),
    (4L, "the weather tomorrow looks cloudy with a chance of rain showers"))
    .toDF("doc_id", "text")

  /** The `hashMode` stamp on an index's signature column. */
  private def hashStamp(idx: Dedup.MinhashIndex): String =
    idx.signatures.schema("signature").metadata.getString("hashMode")

  test("exactByContent keeps min id and counts duplicates") {
    val out = Dedup.exactByContent(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 4) // 0/1 collapse
    assert(out(0).getLong(1) == 0L && out(0).getLong(2) == 2L)
  }

  test("shingles produces distinct word n-grams incl. short-text stub") {
    val sh = Dedup.shingles(Seq((1L, "a b c d"), (2L, "x y")).toDF("id", "t"),
      "id", "t", 3).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sh.count(_._1 == 1L) == 2) // "a b c", "b c d"
    assert(sh.filter(_._1 == 2L).map(_._2).toSeq == Seq("x y"))
  }

  test("minhash signatures are deterministic and length-k") {
    val s1 = Dedup.minhashSignatures(corpus, "doc_id", "text", 32)
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val s2 = Dedup.minhashSignatures(corpus, "doc_id", "text", 32)
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(s1.forall(_.length == 32))
    assert(s1.map(_.toList).toSeq == s2.map(_.toList).toSeq)
    // identical docs -> identical signatures
    assert(s1(0) == s1(1))
  }

  test("minhashPairs finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
        threshold = 0.5, numHashes = 64, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs same fp; near dups within small hamming") {
    val fps = Dedup.simhash(corpus, "doc_id", "text").orderBy("doc_id")
      .collect().map(_.getLong(1))
    assert(fps(0) == fps(1))
    val ham02 = java.lang.Long.bitCount(fps(0) ^ fps(2))
    val ham03 = java.lang.Long.bitCount(fps(0) ^ fps(3))
    assert(ham02 < ham03)
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("hammingPairs: generalized banding equals brute force at every " +
      "band, including negative fingerprints and wide distances") {
    // hand-built fingerprints with known pairwise distances, including
    // bit 63 (negative longs — the arithmetic-shift sign-extension
    // hazard the chunk mask must cut) and distances that straddle the
    // narrow-chunk splits of loose bands
    val fps: Seq[(Long, Long)] = Seq(
      (0L, 0L),
      (1L, (1L << 0) | (1L << 10) | (1L << 20) | (1L << 30) | (1L << 40)),
      (2L, -1L),                 // all 64 bits
      (3L, 1L << 1),
      (4L, java.lang.Long.MIN_VALUE)) // bit 63 only
    val df = fps.toDF("id", "fp")
    def brute(band: Int): Set[(Long, Long, Int)] =
      (for {
        (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
        h = java.lang.Long.bitCount(fa ^ fb) if h <= band
      } yield (ia, ib, h)).toSet
    for (band <- Seq(0, 1, 3, 5, 8, 31)) {
      val got = Dedup.hammingPairs(df, "id", "fp", band)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(got == brute(band),
        s"band $band: got $got expected ${brute(band)}")
    }
    // identical fingerprints pair at band 0 (1 chunk = whole-fp join)
    val dup = (fps :+ (9L, -1L)).toDF("id", "fp")
    assert(Dedup.hammingPairs(dup, "id", "fp", 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2L, 9L)))
    // bands past 31 refuse (1-bit chunks discriminate nothing)
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(df, "id", "fp", 32)
    }
  }

  test("ngramJaccardPairs computes exact jaccard via inverted index") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        threshold = 0.3, n = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0) // identical sets
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) < 1.0)
    assert(!pairs.contains((0L, 3L)))
  }

  test("ngramJaccardPairs maxDocFreq prunes ubiquitous shingles") {
    // docs 0/1/2 share their shingles (doc freq 3): cap=3 keeps the dup
    // pair, cap=2 prunes every shared shingle and the pair disappears
    val kept = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        threshold = 0.9, n = 3, maxDocFreq = Some(3))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(kept.contains((0L, 1L)))
    val pruned = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        threshold = 0.9, n = 3, maxDocFreq = Some(2))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!pruned.contains((0L, 1L)))
  }

  test("embedding LSH buckets identical vectors together; pairs verified by cosine") {
    val vecs = Seq(
      (0L, Array.fill(8)(1.0f)),
      (1L, Array.fill(8)(1.0f)),              // identical
      (2L, Array.fill(8)(-1.0f)),             // opposite
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(vecs, "vec_id", "embedding",
        threshold = 0.99, tables = 4, bits = 6, dim = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("keepFirst drops only docs having a smaller-id near-duplicate") {
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val kept = Dedup.keepFirst(corpus, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 4L))
  }

  test("keepFirst chain semantics: A~B~C keeps only A (greedy, not clusters)") {
    // 1 is a dup of 0, 2 is a dup of 1, but 0~2 was never emitted (e.g.
    // their similarity fell below threshold). Greedy keep-first still drops
    // 2 — it has SOME smaller-id near-dup — so only chain head 0 survives.
    // Cluster-exact dedup (union-find / connected components) could instead
    // keep one representative per component; keepFirst's scaladoc names
    // that alternative. Here we pin the greedy contract.
    val chain = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val kept = Dedup.keepFirst(corpus, "doc_id", chain)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 4L))
  }

  test("md5-derived hashing: minhash and simhash keep the dup structure") {
    val mh = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5,
        numHashes = 64, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((0L, 1L)))
    assert(!mh.exists(p => p._1 == 3L || p._2 == 3L))
    val fps = Dedup.simhash(corpus, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(fps(0) == fps(1))
    assert(java.lang.Long.bitCount(fps(0) ^ fps(2)) <
      java.lang.Long.bitCount(fps(0) ^ fps(3)))
  }

  test("incrementalSurvivors drops exact/near dups vs corpus and earlier batch") {
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val B = "one two three four five six seven eight nine ten eleven twelve"
    val B2 = B.replace("twelve", "zz") // near-dup of corpus B
    val C = "red orange yellow green blue indigo violet cyan magenta teal pink grey"
    val C2 = C.replace("grey", "zz")   // near-dup of earlier batch doc
    val D = "north south east west up down left right front back over under"
    val E = "solo unique text that matches absolutely nothing else in this corpus today"
    val corpus = Seq((1L, A), (2L, B)).toDF("doc_id", "text")
    val batch = Seq((10L, A), (11L, B2), (20L, C), (21L, C2),
      (30L, D), (31L, D), (40L, E)).toDF("doc_id", "text")
    val kept = Dedup.incrementalSurvivors(batch, corpus, "doc_id", "text",
        threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(20L, 30L, 40L),
      s"10 exact-vs-corpus, 11 near-vs-corpus, 21 near-vs-batch, " +
        s"31 exact-vs-batch should drop; got $kept")
  }

  test("repeatedSpans merges consecutive shared grams; splits islands") {
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),
      (3L, "q w e r t"),
      (4L, "a b c z1 z2 z3 z4 b c d")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(d, "doc_id", "text", n = 3, minDocs = 2)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // shared run "a b c d" -> grams "a b c","b c d" flagged in docs 1/2/4
    assert(spans == Seq(
      (1L, 0L, 3L, 2L),   // positions 0-1, covering tokens 0..3
      (2L, 1L, 4L, 2L),
      (4L, 0L, 2L, 1L),   // "a b c" island
      (4L, 7L, 9L, 1L)))  // "b c d" island
    assert(!spans.exists(_._1 == 3L), "non-duplicated doc must be absent")
  }

  test("connectedComponents labels transitive groups with the min id") {
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(cc == Seq((0L, 0L), (1L, 0L), (2L, 0L), (5L, 5L), (6L, 5L)))
  }

  test("keepFirstExact keeps one per component where greedy keeps two") {
    // 1 and 2 are each near-dups of 3 but not of each other: greedy
    // keepFirst keeps both (neither is ever an id_b); cluster-exact keeps
    // only the component minimum 1
    val d = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val greedy = Dedup.keepFirst(d, "doc_id", pairs)
      .as[Long].collect().toSet
    val exact = Dedup.keepFirstExact(d, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(greedy == Set(1L, 2L, 9L))
    assert(exact == Set(1L, 9L))
  }

  test("keepBest keeps the max-score copy per component, min-id on ties") {
    // component {1,2,3}: 2 has the highest score -> keepBest keeps 2
    // where keepFirstExact would keep 1; component {7,8} ties on score
    // -> min id 7; singleton 9 always survives
    val d = Seq((1L, 10), (2L, 50), (3L, 20), (7L, 5), (8L, 5), (9L, 1))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 3L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val best = Dedup.keepBest(d, "doc_id", pairs, col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(best == Set(2L, 7L, 9L))
    // schema passes through untouched (no helper columns leak)
    assert(Dedup.keepBest(d, "doc_id", pairs, col("score")).columns.toSeq
      == Seq("doc_id", "score"))
  }

  test("connectedComponents converges on a long chain (diameter rounds)") {
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet == Set(0L))
    assert(cc.size == 10)
  }

  test("connectedComponents: 1023-node chain converges in O(log n) rounds") {
    // worst-case diameter graph — plain min-label propagation would need
    // ~1023 rounds; star contraction must collapse it logarithmically
    val chain = (0L until 1022L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (cc, rounds) = Dedup.connectedComponentsWithRounds(chain)
    val labels = cc.as[(Long, Long)].collect()
    assert(labels.length == 1023)
    assert(labels.forall(_._2 == 0L))
    assert(rounds <= 12, s"chain took $rounds rounds")
  }

  test("connectedComponents: dense clique converges in a round or two") {
    val n = 40
    val edges = (for (i <- 0 until n; j <- i + 1 until n)
      yield (100L + i, 100L + j)).toDF("id_a", "id_b")
    val (cc, rounds) = Dedup.connectedComponentsWithRounds(edges)
    assert(cc.as[(Long, Long)].collect().forall(_._2 == 100L))
    assert(rounds <= 2, s"clique took $rounds rounds")
  }

  test("CC driver-probe ceiling stays driver-sized (500k pairs)") {
    // the probe collects at most threshold+1 specialized long tuples —
    // ~tens of MB transient. 4M (the old default) was a driver-OOM trap;
    // pin the new ceiling so it can't silently creep back up
    assert(Dedup.DefaultSmallGraphThreshold == 500 * 1000)
  }

  test("localContract: clique partition collapses to a star") {
    // one partition holding a 30-node clique (the LSH-bucket pair shape)
    // must forward exactly n-1 canonical star edges, all at the min id
    val n = 30
    val clique = (for (i <- 0 until n; j <- i + 1 until n)
      yield (100L + j, 100L + i)).toDF("u", "v").coalesce(1)
    val stars = Dedup.localContract(clique)
      .as[(Long, Long)].collect().sorted
    assert(stars.length == n - 1)
    assert(stars.forall(e => e._2 == 100L && e._1 > 100L))
    assert(stars.map(_._1).toSet == (101L until 100L + n).toSet)
  }

  test("localContract: table flush across batches preserves connectivity") {
    // a 64-node chain through a table capped at 8 nodes: every flush
    // boundary splits the chain, but the star segments must still union
    // to ONE component under the full CC
    val chain = (0L until 63L).map(i => (i + 1, i)).toDF("u", "v").coalesce(1)
    val stars = Dedup.localContract(chain, maxNodesPerTable = 8)
    // strictly fewer or equal rows than input, canonical, no self-loops
    val rows = stars.as[(Long, Long)].collect()
    assert(rows.forall(e => e._1 > e._2))
    // connectivity is exact: CC over the contracted frame = one component
    val cc = Dedup.connectedComponents(
      stars.select(col("u").as("id_a"), col("v").as("id_b")))
      .as[(Long, Long)].collect()
    assert(cc.length == 64)
    assert(cc.forall(_._2 == 0L))
  }

  test("localContract rejects the Long.MinValue sentinel id") {
    val bad = Seq((Long.MinValue, 3L)).toDF("u", "v").coalesce(1)
    val ex = intercept[org.apache.spark.SparkException] {
      Dedup.localContract(bad).collect()
    }
    assert(ex.getMessage != null)
  }

  test("CC: preContract on/off produce identical labels (random graph)") {
    // the pre-pass is a perf lever, not a semantics one — same fixpoint
    // through both distributed paths, on a graph scattered across
    // partitions (some locality, some cross-partition stitching)
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(e => e._1 != e._2).toDF("id_a", "id_b").repartition(8)
    val pre = Dedup.connectedComponentsWithRounds(edges, preContract = true)
      ._1.as[(Long, Long)].collect().toMap
    val plain = Dedup.connectedComponentsWithRounds(edges, preContract = false)
      ._1.as[(Long, Long)].collect().toMap
    assert(pre == plain)
    assert(pre.nonEmpty)
  }

  test("adaptive CC: driver union-find equals distributed star contraction") {
    // same random graph through both execution paths: 150 pairs sit
    // under the size gate, so connectedComponents runs the driver
    // union-find, and connectedComponentsWithRounds is the distributed
    // path — labels must be identical, the gate is a perf decision, not
    // a semantics one
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(150)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2).toDF("id_a", "id_b")
    val small = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val big = Dedup.connectedComponentsWithRounds(edges)._1
      .as[(Long, Long)].collect().toMap
    assert(small == big)
    assert(small.nonEmpty)
  }

  test("cutSpans removes flagged token ranges; keep-one-copy by filtering") {
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),
      (3L, "q w e r t"),
      (4L, "a b c z1 z2 z3 z4 b c d")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(d, "doc_id", "text", n = 3, minDocs = 2)
    val cut = Dedup.cutSpans(d, "doc_id", "text", spans)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    // every repeated passage removed everywhere; untouched doc canonical
    assert(cut == Seq(
      (1L, "e f"), (2L, "x y"), (3L, "q w e r t"), (4L, "z1 z2 z3 z4")))
    // keep-one-copy composition: the span frame is just a DataFrame —
    // drop doc 1's occurrence before cutting and doc 1 keeps its text
    val keepDoc1 = spans.filter(col("doc_id") =!= 1L)
    val cut2 = Dedup.cutSpans(d, "doc_id", "text", keepDoc1)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(cut2.head == (1L, "a b c d e f"))
    // fully-covered doc keeps an empty-string row, not a dropped row
    val full = Seq((9L, "p q r")).toDF("doc_id", "text")
    val allSpan = Seq((9L, 0L, 2L)).toDF("doc_id", "span_start", "span_end")
    val out = Dedup.cutSpans(full, "doc_id", "text", allSpan).collect()
    assert(out.length == 1 && out.head.getString(1) == "")
  }

  test("dropKeptOccurrence preserves the first copy of each passage") {
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),
      (3L, "q w e r t"),
      (4L, "a b c z1 z2 z3 z4 b c d")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(d, "doc_id", "text", n = 3, minDocs = 2)
    val toCut = Dedup.dropKeptOccurrence(d, "doc_id", "text", spans)
    // "a b c d" occurs at (1,0) and (2,1): only the (2,1) copy is cut.
    // Doc 4's spans cover passages "a b c" / "b c d" whose covered TEXT
    // has no identical-span twin, so they are their own first copy
    assert(toCut.select("doc_id", "span_start", "span_end")
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq == Seq((2L, 1L, 4L)))
    // end-to-end keep-one-copy: one copy of "a b c d" survives (doc 1)
    val cut = Dedup.cutSpans(d, "doc_id", "text", toCut)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(cut == Seq((1L, "a b c d e f"), (2L, "x y"),
      (3L, "q w e r t"), (4L, "a b c z1 z2 z3 z4 b c d")))
  }

  test("prebuilt minhash index probe scans only the index, not the corpus") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-idx")
    val corpusPath = tmp.resolve("corpus").toString
    val idxPath = tmp.resolve("index").toString
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val B = "one two three four five six seven eight nine ten eleven twelve"
    Seq((1L, A), (2L, B)).toDF("doc_id", "text").write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", idxPath)
    val idx = Dedup.readMinhashIndex(spark, idxPath)
    // hyperparameters round-trip through the stamped column metadata
    assert((idx.numHashes, idx.bands, idx.shingleSize, idx.seed,
      hashStamp(idx)) == ((64, 16, 3, 42L, "md5")))
    val batch = Seq((10L, A.replace("mu", "zz")),
      (11L, "solo unique text matching nothing else in this corpus at all"))
      .toDF("doc_id", "text")
    val probe = Dedup.incrementalSurvivors(batch, idx, "doc_id", "text",
      threshold = 0.3)
    // THE 100 TB property: the probe plan reads the three materialized
    // index frames and nothing else from disk — a FileScan of the corpus
    // parquet would mean the probe re-shingled the corpus
    val p = probe.queryExecution.executedPlan.toString
    assert(!p.contains(corpusPath),
      "probe plan must not scan the corpus:\n" + p)
    // every parquet scan in the plan reads an index frame (the plan
    // string re-renders cached subtrees, so scan COUNT is unstable —
    // the invariant is where the scans point)
    val locations = "InMemoryFileIndex\\(1 paths\\)\\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(locations.nonEmpty, "expected parquet index scans:\n" + p)
    assert(locations.forall(_.contains(idxPath)),
      s"a scan points outside the index: $locations")
    // and the probe path is semantics-preserving vs the inline build
    val inline = Dedup.incrementalSurvivors(batch, corpus, "doc_id",
      "text", threshold = 0.3)
    assert(probe.select("doc_id").as[Long].collect().toSeq.sorted ==
      inline.select("doc_id").as[Long].collect().toSeq.sorted)
    assert(probe.select("doc_id").as[Long].collect().toSeq.sorted ==
      Seq(11L), "near-dup of corpus doc 1 must drop; the unique doc stays")
  }

  test("syntheticComponentEdges plants worst-case chains of the stated size") {
    val g = Rigs.syntheticComponentEdges(spark, nNodes = 100, componentSize = 10)
    // 100 nodes in 10 chains of 10: 90 edges, every node exactly once
    val edges = g.as[(Long, Long)].collect()
    assert(edges.length == 90)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(nodes == (0L until 100L).toSet,
      "the permutation must be a bijection over the node space")
    // CC over the rig finds exactly 10 components of 10 nodes
    val cc = Dedup.connectedComponents(g)
    val sizes = cc.groupBy("cluster").count()
      .as[(Long, Long)].collect()
    assert(sizes.length == 10 && sizes.forall(_._2 == 10L))
    // deterministic: a second build is bit-identical
    val again = Rigs.syntheticComponentEdges(spark, 100, 10)
      .as[(Long, Long)].collect()
    assert(edges.toSet == again.toSet)
    // the distributed path earns its log bound on the planted chains
    // ceil(log2(9)) + 3: the same +C fuzz the 1023-chain bound carries
    // (seed round + convergence-detection round on top of the doubling)
    val (_, rounds) = Dedup.connectedComponentsWithRounds(g)
    assert(rounds <= 7, s"diameter-9 chains took $rounds rounds")
  }

  test("appendToMinhashIndex: later batches dedup against earlier survivors") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-append")
    val path = tmp.resolve("index").toString
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val C = "red orange yellow green blue indigo violet cyan magenta teal pink grey"
    val D = "north south east west up down left right front back over under"
    Dedup.writeMinhashIndex(Seq((1L, A)).toDF("doc_id", "text"),
      "doc_id", "text", path)
    // batch 1: a dup of corpus A and a new doc C -> only C survives
    val b1 = Dedup.incrementalSurvivors(
      Seq((10L, A), (11L, C)).toDF("doc_id", "text"),
      Dedup.readMinhashIndex(spark, path), "doc_id", "text",
      threshold = 0.3).localCheckpoint()
    assert(b1.select("doc_id").as[Long].collect().toSeq == Seq(11L))
    Dedup.appendToMinhashIndex(b1, "doc_id", "text", path)
    // the grown index still reads back with intact hyperparameters
    val idx2 = Dedup.readMinhashIndex(spark, path)
    assert((idx2.numHashes, idx2.bands, hashStamp(idx2)) ==
      ((64, 16, "md5")))
    assert(idx2.hashes.count() == 2)
    // batch 2: near-dup of batch-1 survivor C (dropped only because the
    // append landed), plus a fresh doc D
    val b2 = Dedup.incrementalSurvivors(
      Seq((20L, C.replace("grey", "zz")), (21L, D))
        .toDF("doc_id", "text"),
      idx2, "doc_id", "text", threshold = 0.3)
    assert(b2.select("doc_id").as[Long].collect().toSeq == Seq(21L))
  }

  test("minhash index write and append release the per-id cache they " +
      "create") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val path = java.nio.file.Files.createTempDirectory("graft-mh-cache")
      .resolve("index").toString
    Dedup.writeMinhashIndex(Seq((1L, base), (2L, "one two three four five"))
      .toDF("doc_id", "text"), "doc_id", "text", path)
    assert(cm.isEmpty, "the index write left a cached frame behind")
    // a stream appends once per micro-batch: a cache left per append
    // grows without bound
    Dedup.appendToMinhashIndex(Seq((3L, "six seven eight nine ten"))
      .toDF("doc_id", "text"), "doc_id", "text", path)
    assert(cm.isEmpty, "the append left a cached frame behind")
  }

  test("appendToMinhashIndex: a re-delivered drop is REFUSED (duplicate " +
      "ids), bloom-gated so a clean drop never scans signatures/") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-guard")
    val path = tmp.resolve("index").toString
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val C = "red orange yellow green blue indigo violet cyan magenta teal pink grey"
    Dedup.writeMinhashIndex(Seq((1L, A)).toDF("doc_id", "text"),
      "doc_id", "text", path)
    // the fresh write seeded the idbloom sidecar: a DISJOINT batch
    // certifies "all new" against the broadcast bloom without
    // constructing a signatures/ scan at all (the plan-shape pin the
    // r16 verdict asked for, via the same DupCheckStats hook PqSpec
    // uses)
    val idx = Dedup.readMinhashIndex(spark, path)
    val clean = ArtifactMaintenance.requireDisjointIds(spark, idx.signatures,
      "doc_id", Seq(10L).toDF("doc_id"), path, "appendToMinhashIndex")
    assert(clean.bloomUsed && !clean.scannedCodes && clean.maybeHits == 0)
    val drop = Seq((10L, C)).toDF("doc_id", "text")
    Dedup.appendToMinhashIndex(drop, "doc_id", "text", path)
    // crash-retry: the SAME drop re-delivered must refuse, not
    // double-count signatures and inflate bucket collision stats
    val e = intercept[AnalysisError] {
      Dedup.appendToMinhashIndex(drop, "doc_id", "text", path)
    }
    assert(e.getMessage.contains("appendToMinhashIndex") &&
      e.getMessage.contains("shares ids"))
    // nothing was written by the refused attempt
    assert(Dedup.readMinhashIndex(spark, path).signatures.count() == 2)
    // a LEGACY artifact (no sidecar) still refuses — via the full
    // id-column scan fallback
    val bloomDir = java.nio.file.Paths.get(path, "idbloom")
    assert(java.nio.file.Files.exists(bloomDir))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(bloomDir).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    val e2 = intercept[AnalysisError] {
      Dedup.appendToMinhashIndex(drop, "doc_id", "text", path)
    }
    assert(e2.getMessage.contains("shares ids"))
  }

  test("appendToMinhashIndex: a batch id that cannot round-trip through " +
      "the on-disk id type refuses instead of truncating") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-cast")
    val path = tmp.resolve("index").toString
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val C = "red orange yellow green blue indigo violet cyan magenta teal pink grey"
    Dedup.writeMinhashIndex(Seq((5L, A)).toDF("doc_id", "text"),
      "doc_id", "text", path)
    // DOUBLE 5.5 would silently coerce to BIGINT 5 — a COLLIDING id —
    // under the old bare cast (r16 advice); now it refuses by name
    val e = intercept[AnalysisError] {
      Dedup.appendToMinhashIndex(Seq((5.5, C)).toDF("doc_id", "text"),
        "doc_id", "text", path)
    }
    assert(e.getMessage.contains("round-trip") &&
      e.getMessage.contains("5.5"))
    // a WIDENING cast that round-trips (INT -> BIGINT) passes through
    Dedup.appendToMinhashIndex(Seq((7, C)).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val sigs = Dedup.readMinhashIndex(spark, path).signatures
    assert(sigs.schema("doc_id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(sigs.count() == 2)
  }

  test("compactMinhashIndex: append-fragmented dirs rewrite to fewer " +
      "files; probes, stamps, and append-afterwards all keep working") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-compact")
    val path = tmp.resolve("index").toString
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val C = "red orange yellow green blue indigo violet cyan magenta teal pink grey"
    val D = "north south east west up down left right front back over under"
    val E = "one two three four five six seven eight nine ten eleven twelve"
    Dedup.writeMinhashIndex(Seq((1L, A)).toDF("doc_id", "text"),
      "doc_id", "text", path, sourceTag = "unit")
    // three daily drops, each its own append
    for ((id, txt) <- Seq((10L, C), (11L, D), (12L, E)))
      Dedup.appendToMinhashIndex(Seq((id, txt)).toDF("doc_id", "text"),
        "doc_id", "text", path)
    def files(sub: String): Int =
      new java.io.File(s"$path/$sub").listFiles()
        .count(_.getName.endsWith(".parquet"))
    def probe() = Dedup.incrementalSurvivors(
        Seq((20L, A), (21L, C.replace("grey", "zz")),
          (22L, "totally fresh words nothing shared with any corpus doc at all"))
          .toDF("doc_id", "text"),
        Dedup.readMinhashIndex(spark, path, expectedSource = Some("unit")),
        "doc_id", "text", threshold = 0.3)
      .select("doc_id").as[Long].collect().toSeq
    val before = probe()
    val filesBefore = Seq("hashes", "signatures", "buckets").map(files)
    Dedup.compactMinhashIndex(spark, path, targetPartitions = 1)
    val filesAfter = Seq("hashes", "signatures", "buckets").map(files)
    assert(filesAfter.zip(filesBefore).forall { case (a, b) => a < b },
      s"every dir must shrink: $filesBefore -> $filesAfter")
    assert(probe() == before && before == Seq(22L))
    // stamps survived (read demands them) and the index still GROWS:
    // append after compaction, and the new doc dedups later arrivals
    Dedup.appendToMinhashIndex(Seq((30L, "brand new appended doc words "
      + "for the post compaction growth check here")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val idx2 = Dedup.readMinhashIndex(spark, path,
      expectedSource = Some("unit"))
    assert((idx2.numHashes, idx2.bands) == ((64, 16)))
    assert(idx2.hashes.count() == 5)
  }

  test("deleteFromMinhashIndex: a forgotten doc stops gating later " +
      "batches; re-delete is a no-op; stamps and probes keep working") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-del")
    val path = tmp.resolve("index").toString
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val C = "red orange yellow green blue indigo violet cyan magenta teal pink grey"
    val D = "north south east west up down left right front back over under"
    Dedup.writeMinhashIndex(
      Seq((1L, A), (10L, C), (11L, D)).toDF("doc_id", "text"),
      "doc_id", "text", path, sourceTag = "unit")
    def probeNearC(): Seq[Long] = Dedup.incrementalSurvivors(
        Seq((20L, C.replace("grey", "zz"))).toDF("doc_id", "text"),
        Dedup.readMinhashIndex(spark, path, expectedSource = Some("unit")),
        "doc_id", "text", threshold = 0.3)
      .select("doc_id").as[Long].collect().toSeq
    // pre-delete: the near-dup of indexed doc 10 (C) is gated out
    assert(probeNearC().isEmpty)
    // right-to-be-forgotten: doc 10 leaves all three dirs
    val removed = Dedup.deleteFromMinhashIndex(
      Seq(10L).toDF("doc_id"), "doc_id", path)
    assert(removed == 1L)
    val idx = Dedup.readMinhashIndex(spark, path,
      expectedSource = Some("unit"))
    assert((idx.numHashes, idx.bands, hashStamp(idx)) ==
      ((64, 16, "md5")), "stamps must survive the rewrite")
    assert(idx.hashes.count() == 2 && idx.signatures.count() == 2)
    assert(idx.buckets.filter(col(idx.buckets.columns
      .find(c => c != "band" && c != "bucket").get) === 10L).count() == 0,
      "deleted id must leave the buckets dir too")
    // post-delete: the same near-dup now SURVIVES (nothing remembers C)
    assert(probeNearC() == Seq(20L))
    // idempotent, and absent ids are a no-op
    assert(Dedup.deleteFromMinhashIndex(
      Seq(10L, 999L).toDF("doc_id"), "doc_id", path) == 0L)
    // the index still grows after a delete
    Dedup.appendToMinhashIndex(Seq((30L, C)).toDF("doc_id", "text"),
      "doc_id", "text", path)
    assert(probeNearC().isEmpty, "re-admitted content must gate again")
  }

  test("deleteFromMinhashIndex: a retry that completes a half-applied " +
      "delete reports what it actually removed (r15 advice — " +
      "signatures, the counted dir, swap last)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-retry")
    val path = tmp.resolve("index").toString
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val C = "red orange yellow green blue indigo violet cyan magenta teal pink grey"
    val D = "north south east west up down left right front back over under"
    Dedup.writeMinhashIndex(
      Seq((1L, A), (10L, C), (11L, D)).toDF("doc_id", "text"),
      "doc_id", "text", path, sourceTag = "unit")
    // simulate the crash state of a delete of doc 10 that finished the
    // hashes and buckets swaps and died BEFORE the signatures swap
    // (production order: hashes -> buckets -> signatures)
    def rewriteWithout(dir: String): Unit = {
      val d = s"$path/$dir"
      val df0 = spark.read.parquet(d)
      val idc = df0.columns.find(c => c != "content_hash" &&
        c != "band" && c != "bucket" && c != "signature").get
      val kept = df0.filter(col(idc) =!= 10L).localCheckpoint(true)
      new scala.reflect.io.Directory(new java.io.File(d))
        .deleteRecursively()
      kept.write.parquet(d)
    }
    rewriteWithout("hashes")
    rewriteWithout("buckets")
    // the retry completes the delete AND reports the one doc it
    // removed — the before-count reads the not-yet-rewritten
    // signatures dir, so the audit trail never says "0 removed" for a
    // delete that this call actually applied
    assert(Dedup.deleteFromMinhashIndex(
      Seq(10L).toDF("doc_id"), "doc_id", path) == 1L)
    val idx = Dedup.readMinhashIndex(spark, path,
      expectedSource = Some("unit"))
    assert(idx.signatures.count() == 2 && idx.hashes.count() == 2)
    // and only now is a re-delete the documented no-op
    assert(Dedup.deleteFromMinhashIndex(
      Seq(10L).toDF("doc_id"), "doc_id", path) == 0L)
  }

  test("minhash index: append, delete and compact self-heal the " +
      "staged-swap crash state (live dir missing, __old present)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-heal")
    val path = tmp.resolve("index").toString
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val C = "red orange yellow green blue indigo violet cyan magenta teal pink grey"
    val D = "north south east west up down left right front back over under"
    Dedup.writeMinhashIndex(Seq((1L, A), (10L, C)).toDF("doc_id", "text"),
      "doc_id", "text", path, sourceTag = "unit")
    val dir = java.nio.file.Paths.get(path)
    // a swap of `sub` that died between its two renames: the intact
    // original at <sub>__old, an orphaned rewrite at <sub>__compact
    def crash(sub: String): Unit = {
      java.nio.file.Files.move(dir.resolve(sub), dir.resolve(sub + "__old"))
      if (!java.nio.file.Files.exists(dir.resolve(sub + "__compact")))
        java.nio.file.Files.createDirectory(dir.resolve(sub + "__compact"))
    }
    def counts() = {
      val idx = Dedup.readMinhashIndex(spark, path,
        expectedSource = Some("unit"))
      (idx.hashes.count(), idx.signatures.count())
    }
    crash("signatures")
    Dedup.appendToMinhashIndex(Seq((11L, D)).toDF("doc_id", "text"),
      "doc_id", "text", path)
    assert(counts() == ((3L, 3L)))
    crash("signatures"); crash("buckets")
    assert(Dedup.deleteFromMinhashIndex(Seq(10L).toDF("doc_id"), "doc_id",
      path) == 1L)
    assert(counts() == ((2L, 2L)))
    crash("hashes")
    Dedup.compactMinhashIndex(spark, path, targetPartitions = 1)
    assert(counts() == ((2L, 2L)))
    for (sub <- Seq("hashes", "signatures", "buckets");
         sfx <- Seq("__old", "__compact"))
      assert(!java.nio.file.Files.exists(dir.resolve(sub + sfx)),
        s"leftover $sub$sfx")
    // the healed index still gates: a near-dup of the surviving D drops
    val surv = Dedup.incrementalSurvivors(
        Seq((20L, D.replace("under", "zz"))).toDF("doc_id", "text"),
        Dedup.readMinhashIndex(spark, path), "doc_id", "text",
        threshold = 0.3)
      .select("doc_id").as[Long].collect()
    assert(surv.isEmpty)
  }

  test("minhash index provenance: a probe expecting a different source refuses") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-prov")
    val path = tmp.resolve("index").toString
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Dedup.writeMinhashIndex(Seq((1L, A)).toDF("doc_id", "text"),
      "doc_id", "text", path, sourceTag = "/data/corpusA")
    // matching tag reads fine
    val idx = Dedup.readMinhashIndex(spark, path,
      expectedSource = Some("/data/corpusA"))
    assert(idx.numHashes == 64)
    // wrong tag: the stale/foreign-artifact case — must throw, not probe
    val e = intercept[IllegalArgumentException] {
      Dedup.readMinhashIndex(spark, path,
        expectedSource = Some("/data/corpusB"))
    }
    assert(e.getMessage.contains("corpusA") &&
      e.getMessage.contains("corpusB"))
    // an UNTAGGED index can't satisfy a provenance demand either
    val untagged = tmp.resolve("untagged").toString
    Dedup.writeMinhashIndex(Seq((1L, A)).toDF("doc_id", "text"),
      "doc_id", "text", untagged)
    intercept[IllegalArgumentException] {
      Dedup.readMinhashIndex(spark, untagged,
        expectedSource = Some("/data/corpusA"))
    }
    // ...but stays readable without one (backward compatible)
    assert(Dedup.readMinhashIndex(spark, untagged).bands == 16)
    // append preserves the provenance stamp across new files
    Dedup.appendToMinhashIndex(
      Seq((2L, "totally different words nothing shared here at all ok"))
        .toDF("doc_id", "text"), "doc_id", "text", path)
    assert(Dedup.readMinhashIndex(spark, path,
      expectedSource = Some("/data/corpusA")).hashes.count() == 2)
  }

  test("a minhash index stamped hashMode = xx is refused by name") {
    import org.apache.spark.sql.types.MetadataBuilder
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-xx")
    val md5Path = tmp.resolve("md5").toString
    val path = tmp.resolve("xx").toString
    val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Dedup.writeMinhashIndex(Seq((1L, A)).toDF("doc_id", "text"),
      "doc_id", "text", md5Path)
    // the index an xxhash64 build wrote: the same dirs and stamps, but
    // hashMode = "xx" on the signature column
    for (dir <- Seq("hashes", "buckets"))
      spark.read.parquet(s"$md5Path/$dir").write.parquet(s"$path/$dir")
    val sigs = spark.read.parquet(s"$md5Path/signatures")
    val xx = new MetadataBuilder()
      .withMetadata(sigs.schema("signature").metadata)
      .putString("hashMode", "xx").build()
    sigs.select(col("doc_id"), col("signature").as("signature", xx))
      .write.parquet(s"$path/signatures")
    def refusedByName(e: Throwable): Unit = {
      val named = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case a: AnalysisError => a }
      assert(named.isDefined, s"expected an AnalysisError, got $e")
      val m = named.get.getMessage
      assert(m.contains("hashMode = 'xx'") && m.contains(path), m)
    }
    refusedByName(intercept[AnalysisError](
      Dedup.readMinhashIndex(spark, path)))
    refusedByName(intercept[AnalysisError](Dedup.appendToMinhashIndex(
      Seq((2L, "one two three four five six")).toDF("doc_id", "text"),
      "doc_id", "text", path)))
    assert(spark.read.parquet(s"$path/signatures").count() == 1,
      "the refused append wrote rows")
  }

  test("syntheticSkewedEdges plants one giant star component plus chains") {
    val g = Rigs.syntheticSkewedEdges(spark, nNodes = 100,
      starFrac = 0.8, componentSize = 10)
    val edges = g.as[(Long, Long)].collect()
    // 79 star edges + 2 chains of 10 over the remaining 20 nodes
    assert(edges.length == 79 + 18)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(nodes == (0L until 100L).toSet,
      "the permutation must cover the node space exactly")
    // the hub carries star-wide degree and must NOT be the component
    // minimum (a star already centered on its min is the fixpoint and
    // would exercise no skewed re-pointing)
    val hub = edges.groupBy(_._1).maxBy(_._2.length)._1
    assert(edges.count(_._1 == hub) == 79)
    assert(hub != 0L)
    // both CC paths agree and find {star 80, chain 10, chain 10}
    val drv = Dedup.connectedComponents(g).as[(Long, Long)].collect()
    val dst = Dedup.connectedComponentsWithRounds(g)._1
      .as[(Long, Long)].collect()
    assert(drv.toMap == dst.toMap)
    val sizes = drv.groupBy(_._2).map(_._2.length).toSeq.sorted
    assert(sizes == Seq(10, 10, 80))
    // the star's label is its min member (node 0 is a spoke), not the hub
    assert(drv.toMap.apply(hub) == 0L)
  }

  test("syntheticNearDupCorpus plants near-dup families at the stated rate") {
    val c = Rigs.syntheticNearDupCorpus(spark, nDocs = 40, familySize = 4,
      docLen = 60, mutationRate = 0.01)
    val rows = c.as[(Long, String)].collect().sortBy(_._1)
    assert(rows.length == 40)
    assert(rows.forall(_._2.split(" ").length == 60))
    // deterministic: a second build is bit-identical
    val again = Rigs.syntheticNearDupCorpus(spark, 40, 4, 60, 0.01)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(rows.toSeq == again.toSeq)
    // same-family docs are near-dups; cross-family docs share nothing
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def jac(a: String, b: String): Double = {
      val (sa, sb) = (shingles(a), shingles(b))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    val sameFam = jac(rows(0)._2, rows(1)._2)
    assert(sameFam >= 0.7, s"within-family jaccard $sameFam not near-dup")
    val crossFam = jac(rows(0)._2, rows(4)._2)
    assert(crossFam < 0.05, s"cross-family jaccard $crossFam not disjoint")
  }

  test("syntheticNearDupCorpus boilerplate: constant shared block at the stated rate") {
    // the dd50k crossover numbers rest on this path: the block must be
    // corpus-wide CONSTANT (so its shingles reach df ≈ frac·nDocs) and
    // hit ~frac of docs, while non-boilerplate docs are byte-identical
    // to the frac=0 corpus
    val n = 400
    val bp = Rigs.syntheticNearDupCorpus(spark, n, familySize = 4,
        docLen = 20, mutationRate = 0.01,
        boilerplateFrac = 0.5, boilerplateLen = 5)
      .as[(Long, String)].collect().toMap
    val plain = Rigs.syntheticNearDupCorpus(spark, n, familySize = 4,
        docLen = 20, mutationRate = 0.01)
      .as[(Long, String)].collect().toMap
    val prefixed = bp.filter { case (id, t) => t != plain(id) }
    // ~50% of docs get the block (md5 coin; generous band)
    assert(prefixed.size > n * 35 / 100 && prefixed.size < n * 65 / 100,
      s"boilerplate hit ${prefixed.size} of $n docs at frac 0.5")
    // every prefixed doc = ONE corpus-wide constant 5-token block + body
    val blocks = prefixed.map { case (id, t) =>
      val toks = t.split(" ")
      assert(toks.length == 25, s"doc $id: ${toks.length} tokens")
      assert(t.endsWith(plain(id)), s"doc $id body diverged from frac=0")
      toks.take(5).mkString(" ")
    }.toSet
    assert(blocks.size == 1, s"block not corpus-wide constant: $blocks")
    // deterministic: a rebuild is bit-identical
    val again = Rigs.syntheticNearDupCorpus(spark, n, 4, 20, 0.01, 0.5, 5)
      .as[(Long, String)].collect().toMap
    assert(bp == again)
  }

  test("Checkpoints.truncated keeps plan statistics bounded across rounds") {
    // regression for the round-7 BigInteger blowup: Dataset.localCheckpoint
    // CARRIES estimated stats onto the checkpoint leaf, and iterative
    // self-joins compound them (~2x BIT COUNT per round with this shape) —
    // by round ~13 of the CC loop the optimizer overflowed BigInteger.
    // The RDD round-trip must keep the estimate's size round-independent.
    var frame = (1L to 50L).map(i => (i, i + 1)).toDF("u", "v")
    var maxBits = 0
    for (_ <- 1 to 12) {
      val joined = frame.join(frame.withColumnRenamed("v", "w"), "u")
        .select(col("u"), col("w").as("v"))
      frame = graft.plans.Checkpoints.truncated(joined)
      val bits = frame.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
      maxBits = math.max(maxBits, bits)
    }
    assert(maxBits < 128,
      s"plan-stat estimate grew to $maxBits bits — stats are compounding " +
        "across checkpoints again")
  }

  test("connectedComponents throws instead of returning unconverged labels") {
    val chain = (0L until 400L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsWithRounds(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("contaminationPairs flags the quoting doc, not the short overlap") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // full quote inside a longer doc -> containment 1.0
      (100L, "intro text the quick brown fox jumps over the lazy dog outro"),
      // shares only one 3-gram ("the quick brown") -> containment 1/7
      (101L, "the quick brown bear sleeps"),
      (102L, "nothing in common at all here")).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(corpus, bench, "doc_id", "text",
        n = 3, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((100L, 1L, 1.0)))
    // asymmetry: at a low threshold the partial overlap appears with
    // containment |shared| / |bench n-grams| = 1/7
    val loose = Dedup.contaminationPairs(corpus, bench, "doc_id", "text",
        n = 3, threshold = 0.1)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(loose.map(_._1) == Seq(100L, 101L))
    assert(math.abs(loose(1)._3 - 1.0 / 7) < 1e-12)
  }

  test("semanticDedup: one row per vector, drop rule follows " +
      "(cent_cos, id)-max over within-cluster pairs") {
    val emb = Rigs.syntheticClusteredCorpus(spark,
      40, dim = 8, clusters = 4, noiseScale = 0.15)
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
      k = 4, iters = 2, threshold = 0.85)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.length == 40)
    assert(rows.map(_._1).distinct.length == 40)
    assert(rows.exists(!_._4) && rows.exists(_._4)) // both decisions occur
    // independently recompute qualifying pairs from the raw vectors +
    // the output's own cluster assignment, then check the drop policy
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byRow = rows.map(r => r._1 -> r).toMap
    val qualifying = for {
      Array(x, y) <- rows.combinations(2).toSeq.map(_.toArray)
      if x._2 == y._2 && cos(vecs(x._1), vecs(y._1)) >= 0.85
    } yield (x, y)
    assert(qualifying.nonEmpty)
    qualifying.foreach { case (x, y) =>
      // at least one member of every qualifying pair is dropped, and when
      // the rounded cent_cos separates them clearly, it is the central one
      assert(!x._4 || !y._4)
      val (central, outlier) =
        if (x._3 > y._3) (x, y)
        else if (y._3 > x._3) (y, x)
        else if (x._1 > y._1) (x, y) else (y, x)
      if (math.abs(x._3 - y._3) > 1e-3) assert(!byRow(central._1)._4,
        s"central member ${central._1} of pair should be dropped")
      assert(outlier._1 != central._1)
    }
    // determinism: a second run reproduces the decision table exactly
    spark.sharedState.cacheManager.clearCache()
    val again = Dedup.semanticDedup(emb, "vec_id", "embedding",
      k = 4, iters = 2, threshold = 0.85).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("semanticDedup: of two identical vectors the higher id is dropped") {
    val emb = Rigs.syntheticClusteredCorpus(spark,
      30, dim = 8, clusters = 3, noiseScale = 0.2)
    val twinOf = emb.filter(col("vec_id") === 7L)
      .withColumn("vec_id", lit(1000L))
    val out = Dedup.semanticDedup(emb.unionByName(twinOf), "vec_id",
      "embedding", k = 3, iters = 2, threshold = 0.9)
    val twin = out.filter(col("vec_id") === 1000L).collect()
    assert(twin.length == 1 && !twin(0).getBoolean(3),
      "the identical twin with the higher id must be dropped")
  }

  test("md5Planes are deterministic and uniform in [-1,1]") {
    val p1 = Dedup.md5Planes(2, 4, 8)
    val p2 = Dedup.md5Planes(2, 4, 8)
    assert(p1 == p2)
    val flat = p1.flatten.flatten
    assert(flat.forall(v => v >= -1.0 && v <= 1.0))
    assert(flat.distinct.size > 50) // not degenerate
  }

  test("dd_incremental, dd_incremental_idx and txt_divergence on a zero-row " +
      "documents table return their oracles' answers") {
    val dir = java.nio.file.Files.createTempDirectory("empty_docs")
    try {
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, " +
            "text STRING, lang STRING, source STRING, n_chars BIGINT"))
        .write.parquet(s"$dir/documents.parquet")
      // the doc_id cut of an empty table is 0: both batches are empty
      for (q <- Seq("dd_incremental", "dd_incremental_idx")) {
        val out = SparkEntry.queries(q)(spark, dir.toString)
        assert(out.columns.toSeq == Seq("doc_id"), q)
        assert(out.collect().isEmpty, q)
      }
      // DuckDB's aggregate over no word pairs: one all-NULL row
      val div = SparkEntry.queries("txt_divergence")(spark, dir.toString)
      assert(div.columns.toSeq == Seq("vocab", "kl_pq", "kl_qp", "js"))
      assert(div.collect().map(_.toSeq).toSeq == Seq(Seq(null, null, null, null)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
