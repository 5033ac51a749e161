package graft

import org.apache.spark.sql.functions._

import graft.core.EngineError.AnalysisError
import graft.operators.Bpe

/** BPE trainer/encoder tests with hand-computed merge trajectories —
  * every expected value below is derived on paper from the BPE rules
  * (count pairs weighted by word frequency; merge the max-count,
  * lexicographically-least pair; apply greedy left-to-right). */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  private def corpus(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  /** The above-gate trainer over the same checkpointed dict `train`
    * builds — the distributed path whatever the heap-derived gate. */
  private def trainDistributed(df: org.apache.spark.sql.DataFrame,
                               nMerges: Int) =
    Bpe.trainDistributed(graft.plans.Checkpoints.truncated(
      Bpe.wordFrequencies(df, "text")), nMerges)

  /** A (word, n_tok) vocabulary frame as a map. */
  private def vocab(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getInt(1))).toMap

  test("wordFrequencies: ASCII-first normalization, counts, symbolizing") {
    val wf = Bpe.wordFrequencies(corpus("Ab ab! cd", "AB 123 c-d"), "text")
      .orderBy("ws").collect()
    // "Ab ab! cd" -> ab ab cd ; "AB 123 c-d" -> ab c d
    assert(wf.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a b", 3L), ("c", 1L), ("c d", 1L), ("d", 1L)))
  }

  test("train: two merges with exhaustion before the requested count") {
    // words: ab(3), cd(1) -> merge1 (a,b,3); then only (c,d,1) remains
    // -> merge2 (c,d,1); then NO pairs -> early stop at 2 of 5 rows
    val t = Bpe.train(corpus("ab ab", "ab cd"), "text", nMerges = 5)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(t.toSeq == Seq((1, "a", "b", "ab", 3L), (2, "c", "d", "cd", 1L)))
  }

  test("train: count ties break to the lexicographically least pair") {
    // words xy(1), ax(1): pairs (a x)=1 and (x y)=1 -> 'a x' < 'x y'
    val t = Bpe.train(corpus("xy ax"), "text", nMerges = 1).collect()(0)
    assert(t.getString(1) == "a" && t.getString(2) == "x")
  }

  test("applyMerge is greedy left-to-right: overlapping pairs") {
    // 'a a a' under merge (a,a): left pair wins -> 'aa a' (not 'a aa');
    // 'a b a b' merges BOTH occurrences
    val df = Seq("a a a", "a b a b", "b", "a b").toDF("ws")
      .select(Bpe.applyMerge(col("ws"), lit("a"),
        lit("b")).as("m1"))
    assert(df.as[String].collect().toSeq ==
      Seq("a a a", "ab ab", "b", "ab"))
    val aa = Seq("a a a").toDF("ws")
      .select(Bpe.applyMerge(col("ws"), lit("a"), lit("a")).as("m"))
    assert(aa.as[String].collect()(0) == "aa a")
  }

  test("train: repeated merges build multi-char symbols") {
    // 'aaaa' x2: pairs (a,a)=3 per word, cnt 2 -> 6 -> merge1 (a,a)
    // s1: 'aa aa' -> pairs (aa,aa)=1 per word -> 2 -> merge2 (aa,aa)
    val t = Bpe.train(corpus("aaaa", "aaaa"), "text", nMerges = 2)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(t.toSeq == Seq((1, "aa", 6L), (2, "aaaa", 2L)))
  }

  test("encodeTokenCounts applies merges in order, Zipf-joined per doc") {
    // merges [(a,b)]: doc0 "ab ab cd" -> ab=1 tok x2 + cd=2 tok -> 4
    // tokens, 3 words; doc1 "b a" -> 1+1 = 2 tokens, 2 words
    val out = Bpe.encodeTokenCounts(corpus("ab ab cd", "b a"),
        "doc_id", "text", Seq(("a", "b")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 4L, 3L), (1L, 2L, 2L)))
    // merge order matters: [(a,b),(ab,c)] tokenizes "abc" to ONE token
    val chained = Bpe.encodeTokenCounts(corpus("abc"), "doc_id", "text",
        Seq(("a", "b"), ("ab", "c")))
      .collect()(0)
    assert(chained.getLong(1) == 1L)
  }

  test("train: driver gate and distributed path compute the identical " +
      "trajectory") {
    // the adaptive gate (dict <= autoDictGate -> driver merge loop)
    // must be a COST decision only: run both paths over the same corpus
    // and demand the same trajectory, row for row
    val c = corpus("abab abab cdcd", "abab cdcd xyz", "xyz xyz abab")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("step").collect().map(r => (r.getInt(0), r.getString(1),
        r.getString(2), r.getString(3), r.getLong(4))).toSeq
    val driver = rows(Bpe.train(c, "text", nMerges = 6))       // gate on
    val dist = rows(trainDistributed(c, nMerges = 6))           // gate off
    assert(driver == dist)
    assert(driver.length == 6)
  }

  test("driver and distributed trajectories agree for 24 merges on a " +
      "dense random corpus (ties, overlaps, multi-char symbols)") {
    // the r12 trainer rewrite (flat token store, fused pair table,
    // local delta updates) must stay bit-identical to the distributed
    // argmax loop; an 8-letter alphabet over 200 words forces count
    // ties, overlapping runs, and merges that consume earlier merges
    val rnd = new scala.util.Random(7)
    val words = Vector.tabulate(200)(_ =>
      (1 to (4 + rnd.nextInt(6)))
        .map(_ => ('a' + rnd.nextInt(8)).toChar).mkString)
    val docs = words.grouped(10).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("step").collect().map(r => (r.getInt(0), r.getString(1),
        r.getString(2), r.getString(3), r.getLong(4))).toSeq
    val driver = rows(Bpe.train(docs, "text", nMerges = 24))
    val dist = rows(trainDistributed(docs, nMerges = 24))
    assert(driver == dist)
    assert(driver.length == 24)
  }

  test("the gate's win IS jobs: driver path runs O(1) Spark jobs, " +
      "the distributed loop O(nMerges)") {
    // the adaptive gate exists because the distributed loop pays ~2-3
    // jobs + a checkpoint PER MERGE (32k jobs at a real vocabulary);
    // count actual job launches on both paths so the claim is pinned,
    // not narrated
    val sc = spark.sparkContext
    def jobsOf(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val c = corpus("abab abab cdcd", "abab cdcd xyz", "xyz xyz abab")
    val drv = jobsOf("bpe-gate-driver") {
      Bpe.train(c, "text", nMerges = 6).collect()
    }
    val dist = jobsOf("bpe-gate-dist") {
      trainDistributed(c, nMerges = 6).collect()
    }
    assert(drv <= 6,
      s"driver-gated train launched $drv jobs — the O(1)-jobs claim broke")
    assert(dist >= 12,
      s"distributed train launched only $dist jobs for 6 merges — " +
        "did the gate dispatch change?")
    assert(drv < dist / 2)
  }

  test("512-merge vocabulary: driver-gated train + batched encode clear " +
      "the expression-depth ceiling and match a hand-rolled greedy encoder") {
    // pre-fix, encodeTokenCounts folded EVERY merge into one projection
    // (~6 expression nodes per merge): at 512 merges the single
    // expression tree breaks analyzer recursion / codegen method
    // limits. Batched stages (64/projection, checkpoint between) must
    // execute AND still compute exact greedy-BPE token counts.
    val rnd = new scala.util.Random(42)
    val words = Vector.tabulate(400)(_ =>
      (1 to (8 + rnd.nextInt(5)))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val docs = words.grouped(10).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", nMerges = 512)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.length == 512, "corpus must support 512 merges")
    val got = Bpe.encodeTokenCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // independent expectation: greedy left-to-right merge per word,
    // written from the BPE rules (not from the implementation)
    def tokens(w: String): Long = {
      var syms = w.map(_.toString).toArray
      for ((l, r) <- merges) {
        val out = Array.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms.length.toLong
    }
    val expect = words.grouped(10).zipWithIndex.map { case (ws, i) =>
      (i.toLong, ws.map(tokens).sum, ws.length.toLong)
    }.toSeq
    assert(got == expect)
    // the r12 production path: the mapPartitions rank-loop kernel must
    // compute the IDENTICAL per-word counts as sequential-order
    // application (the `tokens` twin above IS sequential order, so this
    // pins the lowest-rank-first equivalence proof on a real trained
    // table)
    val gotKernel = Bpe.kernelVocab(words.distinct.toDF("word"), merges)
      .collect().map(r => (r.getString(0), r.getInt(1).toLong)).toMap
    assert(gotKernel == words.distinct.map(w => (w, tokens(w))).toMap,
      "kernel encode diverged from sequential-order merge application")
  }

  test("kernel encode handles overlap and chained-merge edge shapes " +
      "exactly like the expression path") {
    // the shapes where greedy/rank-order subtleties live: overlapping
    // same-symbol runs, a merge consuming an earlier merge's output,
    // and words untouched by any merge
    val docs = corpus("aaa aaaa abab", "abc abc xyz", "b a")
    val merges = Seq(("a", "a"), ("a", "b"), ("ab", "c"))
    val words = Seq("aaa", "aaaa", "abab", "abc", "xyz", "b", "a")
      .toDF("word")
    val expr = vocab(Bpe.batchedVocab(words, merges)) // expression path
    val kern = vocab(Bpe.kernelVocab(words, merges))  // kernel path
    assert(expr == kern)
    // paper check: "aaa"->aa,a=2; "aaaa"->aa,aa=2; "abab"->ab,ab=2;
    // "abc"->abc=1; "xyz"=3; "b"=1, "a"=1
    assert(kern == Map("aaa" -> 2, "aaaa" -> 2, "abab" -> 2, "abc" -> 1,
      "xyz" -> 3, "b" -> 1, "a" -> 1))
    // and the encode sums them per doc: doc0 = 6 tokens / 3 words,
    // doc1 = 1 + 1 + 3 = 5 / 3, doc2 = 2 / 2
    val enc = Bpe.encodeTokenCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(enc == Seq((0L, 6L, 3L), (1L, 5L, 3L), (2L, 2L, 2L)))
  }

  test("kernelVocab pass counter: one count per lowest-rank scan, " +
      "bounded by word length (the bench_bpe_enc_guard metric)") {
    // paper counts — "aaaa" under [(a,a),(aa,aa)]: pass 1 applies
    // (a,a) greedily -> [aa,aa], pass 2 applies (aa,aa) -> [aaaa],
    // length 1 terminates WITHOUT a third scan = 2 passes. "ab" under
    // the same table: pass 1 finds no pair = 1 pass. "a": too short to
    // enter the loop = 0 passes. Total 3; every word satisfies
    // passes <= word length.
    val words = Seq("aaaa", "ab", "a").toDF("word")
    val merges = Seq(("a", "a"), ("aa", "aa"))
    val acc = spark.sparkContext.longAccumulator("passes")
    // collect WITHOUT a global sort: orderBy's range partitioner runs a
    // sampling pass that evaluates the kernel a second time and doubles
    // the accumulator (the guard aggregates for the same reason)
    val out = Bpe.kernelVocab(words, merges, Some(acc))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(out == Seq(("a", 1), ("aaaa", 1), ("ab", 2)))
    assert(acc.value == 3L)
  }

  test("encode stays one lazy projection within a batch; checkpoints " +
      "appear only between batches") {
    // the contract queries ship <=16 merges and their oracle plans must
    // keep the original single-projection shape — no checkpoint leaf;
    // a >16-merge chain must truncate between batches (LogicalRDD leaf)
    val c = corpus("ab ab cd")
    val single = Bpe.encodeTokenCounts(c, "doc_id", "text",
      Seq(("a", "b"), ("c", "d")))
    assert(!single.queryExecution.optimizedPlan.toString
      .contains("LogicalRDD"),
      "a single-batch encode must not materialize a checkpoint")
    val merges40 = (0 until 20).flatMap(i =>
      Seq((s"x$i", s"y$i"), (s"y$i", s"z$i")))
    val batched = Bpe.encodeTokenCounts(c, "doc_id", "text", merges40)
    assert(batched.queryExecution.optimizedPlan.toString
      .contains("LogicalRDD"),
      "a 40-merge encode must truncate between its batches")
    // and the batched chain computes the same counts as one batch
    val words = Seq("ab", "cd").toDF("word")
    val wide = vocab(Bpe.batchedVocab(words, merges40, mergesPerStage = 64))
    assert(vocab(Bpe.batchedVocab(words, merges40)) == wide)
    val got = batched.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 2L * wide("ab") + wide("cd"))))
  }

  test("docs with no alphabetic words produce no row (both engines agree)") {
    val out = Bpe.encodeTokenCounts(corpus("123 !!!", "ok"), "doc_id",
      "text", Seq(("o", "k")))
    assert(out.count() == 1L)
  }

  test("train throws on a corpus with no pairs at all") {
    // the named precondition error, through both trainers, for a
    // single-letter corpus and a zero-row one
    val zero = corpus("ab cd").filter(lit(false))
    val single = corpus("a b c", "x 1 y!")
    for ((name, c) <- Seq("zero-row" -> zero, "single-letter" -> single);
         (path, run) <- Seq[(String, () => Any)](
           "train" -> (() => Bpe.train(c, "text", nMerges = 3)),
           "trainDistributed" -> (() => trainDistributed(c, nMerges = 3)))) {
      val ex = intercept[AnalysisError](run())
      assert(ex.getMessage.contains("two or more letters"), s"$name/$path")
    }
  }

  test("merge artifact round-trips with its stamped contract") {
    val path = java.nio.file.Files
      .createTempDirectory("bpe_merges").toString
    val trained = Bpe.train(corpus("ab ab", "ab cd"), "text", nMerges = 5)
    Bpe.writeMerges(trained, path, sourceTag = "unit-corpus")
    val merges = Bpe.readMerges(spark, path,
      expectedSource = Some("unit-corpus"))
    assert(merges == Seq(("a", "b"), ("c", "d")))
    // no expectation -> tag not demanded, still reads
    assert(Bpe.readMerges(spark, path).length == 2)
  }

  test("merge artifact refuses wrong provenance and missing metadata") {
    val path = java.nio.file.Files
      .createTempDirectory("bpe_merges2").toString
    Bpe.writeMerges(Bpe.train(corpus("ab ab"), "text", 1), path,
      sourceTag = "corpus-A")
    intercept[IllegalArgumentException] {
      Bpe.readMerges(spark, path, expectedSource = Some("corpus-B"))
    }
    // a parquet dir NOT written by writeMerges (no stamped metadata)
    val bare = java.nio.file.Files
      .createTempDirectory("bpe_bare").toString
    Seq((1, "a", "b")).toDF("step", "lft", "rgt")
      .write.mode("overwrite").parquet(bare)
    intercept[IllegalArgumentException] {
      Bpe.readMerges(spark, bare)
    }
  }

  test("merge artifact refuses non-contiguous steps (torn artifact)") {
    val path = java.nio.file.Files
      .createTempDirectory("bpe_torn").toString
    val t = Bpe.train(corpus("ab ab", "ab cd"), "text", nMerges = 2)
    // drop step 1: simulates a torn/concatenated table
    Bpe.writeMerges(t.filter($"step" === 2), path)
    intercept[IllegalArgumentException] {
      Bpe.readMerges(spark, path)
    }
  }
}
