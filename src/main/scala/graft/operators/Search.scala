package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-text search over a document corpus: BM25 ranking — the
  * retrieval half of a training-data pipeline (benchmark
  * decontamination lookups, targeted corpus slicing, RAG-style eval set
  * construction all reduce to "top-k docs for these terms").
  *
  * Scale design: the postings for the queried terms are one explode +
  * filter + groupBy on (term, doc) — the shuffle key includes the doc
  * id, so a ubiquitous term does NOT hot-spot a single reducer.
  * Query-time frames (term document-frequencies, corpus stats) are tiny
  * and broadcast; the only per-corpus-size work is the posting scan for
  * the queried terms.
  */
object Search {

  /** BM25 score per (doc, matching query term count) for a bag of query
    * terms; docs matching no term are absent (score 0). Standard
    * Robertson/Sparck-Jones BM25 with the +1 idf smoothing (Lucene's
    * variant): idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
    *
    * One shuffle on (term, doc) for postings, one on doc for the final
    * sum; df/avgdl/N are broadcast scalars. Returns (doc, n_terms_hit,
    * score) — callers round before ordering if results cross engines. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val docLen = df.select(col(idCol).as("doc"),
      TextAnalysis.tokenCount(col(textCol)).cast("double").as("dl"))
    val stats = docLen.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val post = df
      .select(col(idCol).as("doc"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("term", "doc").agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = post.groupBy("term").agg(countDistinct("doc")
      .cast("double").as("df"))
    post.join(broadcast(dfreq), "term")
      .join(docLen, "doc")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("s",
        col("idf") * col("tf") * (k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_terms_hit"), sum("s").as("score"))
  }

  /** Top-k BM25 results with an engine-deterministic ordering: score is
    * rounded (floor(x*1e4+0.5) — the cross-engine-exact rule) BEFORE the
    * ordering/limit so a last-ulp summation difference can't reorder the
    * cut line; ties break on doc id. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int = 10, k1: Double = 1.2,
               b: Double = 0.75): DataFrame =
    bm25(df, idCol, textCol, terms, k1, b)
      .withColumn("score", TextAnalysis.round4(col("score")))
      .orderBy(col("score").desc, col("doc").asc)
      .limit(k)
}
