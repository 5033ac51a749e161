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
