package graft

import org.apache.spark.sql.functions._

import graft.operators.{Search, TextAnalysis}

class SearchSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark join spark shuffle"),
    (2L, "spark filter scan"),
    (3L, "sort merge join plan"),
    (4L, "scan scan scan scan scan scan")).toDF("doc_id", "text")

  test("invertedIndex posts (term, doc, tf)") {
    val idx = Search.invertedIndex(corpus, "doc_id", "text")
      .as[(String, Long, Long)].collect().toSet
    assert(idx.contains(("spark", 1L, 2L)))
    assert(idx.contains(("scan", 4L, 6L)))
    assert(!idx.exists(p => p._1 == "join" && p._2 == 2L))
  }

  test("invertedIndex maxDocFreqFrac drops corpus-wide stopterms") {
    val stop = Seq((1L, "the a"), (2L, "the b"), (3L, "the c"), (4L, "the d"))
      .toDF("doc_id", "text")
    val idx = Search.invertedIndex(stop, "doc_id", "text", maxDocFreqFrac = 0.5)
      .select("term").distinct().as[String].collect().toSet
    assert(!idx.contains("the") && idx == Set("a", "b", "c", "d"))
  }

  test("invertedIndex minTf floors per-doc term frequency") {
    // doc 1 has spark x2; every other (term, doc) posting is tf=1
    val idx = Search.invertedIndex(corpus, "doc_id", "text", minTf = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(idx == Set(("spark", 1L, 2L), ("scan", 4L, 6L)))
  }

  test("bm25 matches the formula computed by hand") {
    val out = Search.bm25(corpus, "doc_id", "text", Seq("spark", "join"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // corpus: N=4, avgdl = (4+3+4+6)/4 = 4.25
    def idf(dfq: Double) = math.log(1 + (4.0 - dfq + 0.5) / (dfq + 0.5))
    def w(tf: Double, dl: Double, dfq: Double) =
      idf(dfq) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 4.25))
    val expected1 = w(2, 4, 2) + w(1, 4, 2) // spark tf=2 df=2; join tf=1 df=2
    assert(out(1L)._1 == 2L)
    assert(math.abs(out(1L)._2 - expected1) < 1e-12)
    val expected3 = w(1, 4, 2) // join only
    assert(out(3L) == ((1L, expected3)))
    assert(!out.contains(4L), "doc with no query term must be absent")
  }

  test("bm25TopK ranks the multi-hit doc first and respects k") {
    val top = Search.bm25TopK(corpus, "doc_id", "text",
      Seq("spark", "join"), k = 2).select("doc").as[Long].collect()
    assert(top.length == 2 && top(0) == 1L)
  }

  test("redactPii replaces email, ip, and phone with typed tags") {
    val df = Seq(
      ("mail bob.smith+x@corp.example.com end",
        "call 555-123-4567 or 555.123.4567 now",
        "host 192.168.1.100 up")).toDF("a", "b", "c")
    val r = df.select(
      TextAnalysis.redactPii(col("a")).as("a"),
      TextAnalysis.redactPii(col("b")).as("b"),
      TextAnalysis.redactPii(col("c")).as("c"))
      .as[(String, String, String)].head()
    assert(r._1 == "mail <EMAIL> end")
    assert(r._2 == "call <PHONE> or <PHONE> now")
    assert(r._3 == "host <IP> up")
  }

  test("redactPii does not half-eat an IP as a phone number") {
    val r = Seq("ip 10.20.304.4056 x").toDF("t")
      .select(TextAnalysis.redactPii(col("t"))).as[String].head()
    // 4 dot-separated octet-ish groups are NOT a 3-3-4 phone
    assert(!r.contains("<PHONE>"), r)
  }

  test("piiCounts audits occurrences per class; clean text is all zeros") {
    val df = Seq("a@b.co c@d.org 1.2.3.4 555-000-1111").toDF("t")
    val counts = TextAnalysis.piiCounts(col("t"))
    val row = df.select(counts.map { case (n, c) => c.as(n) }: _*).head()
    assert(row.getInt(0) == 2 && row.getInt(1) == 1 && row.getInt(2) == 1)
    val clean = Seq("no pii here at all").toDF("t")
      .select(counts.map { case (n, c) => c.as(n) }: _*).head()
    assert(clean.getInt(0) == 0 && clean.getInt(1) == 0 && clean.getInt(2) == 0)
  }

  test("bigram LM: in-domain text outscores OOV text; unseen falls back " +
    "to smoothing mass; short docs carry NULL") {
    import graft.operators.LanguageModel
    val ref = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran on the mat")).toDF("doc_id", "text")
    val model = LanguageModel.trainBigram(ref, "doc_id", "text")
    val docs = Seq(
      (10L, "the cat sat"),          // every bigram seen in the model
      (11L, "zz qq ww"),             // fully OOV: pure smoothing mass
      (12L, "one")).toDF("doc_id", "text") // no bigram -> NULL score
    val out = LanguageModel
      .scoreBigram(docs, "doc_id", "text", model, k = 0.5)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out.map(r => (r._1, r._2)) ==
      Seq((10L, 2L), (11L, 2L), (12L, 0L)))
    assert(out(0)._3.get > out(1)._3.get,
      "in-domain text must outscore out-of-vocabulary text")
    assert(out(2)._3.isEmpty, "a doc with no bigram has no evidence")
    // OOV bigram with OOV context = ln(k / (k*V)) = -ln V exactly
    val v = model.vocab.as[Long].head().toDouble
    assert(math.abs(out(1)._3.get - TextAnalysis.round4Value(
      -math.log(v))) < 1e-9)
  }

  test("unigramDivergence: zero on identical corpora, positive and " +
    "direction-consistent on drifted ones") {
    import graft.operators.LanguageModel
    val a = Seq((1L, "the cat sat"), (2L, "the dog ran")).toDF("doc_id", "text")
    val same = LanguageModel.unigramDivergence(a, a, "text")
      .as[(Long, Double, Double, Double)].head()
    // identical smoothed distributions: every ln ratio is exactly 0
    assert(same == ((5L, 0.0, 0.0, 0.0)))
    val b = Seq((3L, "quantum flux torsion"), (4L, "lattice spin glass"))
      .toDF("doc_id", "text")
    val drift = LanguageModel.unigramDivergence(a, b, "text")
      .as[(Long, Double, Double, Double)].head()
    assert(drift._1 == 11L, "union vocabulary of two disjoint corpora")
    assert(drift._2 > 0 && drift._3 > 0, "both KL directions positive")
    assert(drift._4 > 0 && drift._4 <= math.log(2) + 1e-9,
      "JS positive and bounded by ln 2")
  }
}
