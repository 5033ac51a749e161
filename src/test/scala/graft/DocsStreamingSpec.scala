package graft

import graft.streaming.DocsStreaming

/** Batch ingest (DocsStreaming.ingestBatch, the `ds_ingest` contract
  * query): gates → keep-first content dedup → landed-corpus probe →
  * token stamps, pinned against the survivors worked out by hand. */
class DocsStreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  // passes the default quality gate (length band 10..10000 tokens,
  // stopwords, alpha density) and the "en" language gate
  private def goodText(tag: String): String =
    s"the quick brown fox $tag jumps over the lazy dog and runs far away"

  test("ingestBatch: gates, keep-first, corpus probe and token stamps") {
    val corpus = Seq((100L, goodText("landed"))).toDF("doc_id", "text")
    val idx = DocsStreaming.corpusHashIndex(corpus, "text")
      .localCheckpoint()
    val rows = Seq(
      (1L, t0, goodText("a")),
      (2L, t0, goodText("a")),      // intra-drop duplicate of 1
      (3L, t0, goodText("landed")), // already landed
      (4L, t0, "short junk"),       // fails the quality gate
      (5L, t0, goodText("b")))
    val got = DocsStreaming.ingestBatch(
        rows.toDF("doc_id", "ts", "text"), Some(idx))
      .select("doc_id", "content_hash", "n_tokens", "n_tokens_est")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3))).toSet
    // content_hash is md5 over the text bytes; n_tokens the whitespace
    // count (14); n_tokens_est max(word pieces, ceil(chars / 4))
    def expected(id: Long, text: String) = (id,
      java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map(b => f"$b%02x").mkString,
      14, math.max(14, math.ceil(text.length / 4.0).toInt))
    assert(got == Set(expected(1L, goodText("a")),
      expected(5L, goodText("b"))))
  }
}
