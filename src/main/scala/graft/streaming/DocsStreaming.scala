package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** INGEST for a training-data corpus: the path a new drop of
  * documents takes BEFORE it lands — quality/language gating, keep-first
  * content dedup within the drop, and dedup against the already-landed
  * corpus, as one composed batch transform ([[ingestBatch]], the
  * `ds_ingest` contract query).
  *
  * This is the ingest-side twin of the batch curation chain
  * ([[graft.operators.Curate.curate]] gates +
  * [[graft.operators.Dedup.exactByContent]]): at 100 TB you do not
  * re-curate the lake per crawl drop; you gate and dedup each drop AS
  * IT ARRIVES and only clean rows ever land. Everything here composes
  * EXISTING operators — the gates are stateless codegen Column
  * expressions, the keep-first is one window, and the corpus probe is
  * a join against a content-hash index.
  *
  * Reference analogue: none — cj-zhukov/datafusion-example is
  * batch-only; this extends the LLM-pipeline surface the survey
  * demands at the ingest end. */
object DocsStreaming {

  /** The landed corpus's content-hash index — the side the ingest
    * probe joins. Same hash as
    * [[graft.operators.Dedup.exactByContent]] (md5 over the raw text
    * bytes), so "already in the corpus" means exactly what the batch
    * dedup means by it. Build it once per drop cycle (or maintain it
    * incrementally — it is one narrow column, ~32 B/doc); a 1B-doc
    * corpus indexes in ~32 GB of parquet, broadcast-or-shuffle
    * joinable either way. */
  def corpusHashIndex(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(md5(col(textCol).cast("binary")).as("content_hash"))
      .distinct()

  /** The landed-corpus probe of [[ingestBatch]]: drop rows whose
    * content_hash exists in the index. */
  private def corpusProbe(docs: DataFrame,
                          corpusHashes: Option[DataFrame]): DataFrame =
    corpusHashes.fold(docs)(idx =>
      docs.join(idx.select("content_hash"), Seq("content_hash"), "left_anti"))

  /** The composed ingest transform: quality + language gates FIRST
    * (stateless, codegen, and they shrink what the keep-first window
    * must hold — the batch curation chain's narrow-gates-first rule),
    * then keep-first content dedup — the row with the lowest
    * (tsCol, idCol) per content_hash, so arrival order is pinned to the
    * data and the result replays (the `ds_ingest` contract query runs
    * exactly this against DuckDB) — then the landed-corpus probe, then
    * token accounting (exact whitespace count + the BPE-ish estimate)
    * stamped on the survivors so the landing sink can budget without
    * re-scanning. */
  def ingestBatch(docs: DataFrame, corpusHashes: Option[DataFrame] = None,
                  textCol: String = "text", idCol: String = "doc_id",
                  tsCol: String = "ts",
                  minQuality: Double = 0.5,
                  keepLangs: Seq[String] = Seq("en")): DataFrame = {
    val hashed = gate(docs, textCol, minQuality, keepLangs)
      .withColumn("content_hash", md5(col(textCol).cast("binary")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash")
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val kept = hashed
      .withColumn("__arrival", row_number().over(w))
      .filter(col("__arrival") === 1)
      .drop("__arrival")
    tokenAccounting(corpusProbe(kept, corpusHashes), textCol)
  }

  /** Stateless quality + language gates: pure codegen, run before the
    * keep-first window so it holds only rows that can land. */
  private def gate(docs: DataFrame, textCol: String, minQuality: Double,
                   keepLangs: Seq[String]): DataFrame =
    docs.filter(
      TextAnalysis.qualityScore(col(textCol)) >= minQuality &&
        TextAnalysis.langId(col(textCol)).isin(keepLangs: _*))

  /** Exact whitespace token count + the BPE-ish estimate, stamped on
    * survivors so the landing sink can budget without re-scanning. */
  private def tokenAccounting(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)))
      .withColumn("n_tokens_est", TextAnalysis.tokenEstimate(col(textCol)))
}
