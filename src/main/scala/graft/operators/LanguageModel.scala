package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the CCNet-style
  * quality filter: train token bigram statistics on the corpus, score
  * every document by its mean bigram log-probability ([[selfScore]]),
  * and filter the tail. Documents full of boilerplate, gibberish, or
  * vocabulary the rest of the corpus never uses score low; fluent text
  * scores high. This is the standard pretraining-data quality dial next
  * to the heuristic scores in [[TextAnalysis]] (which are per-row and
  * corpus-blind; this one is corpus-relative).
  *
  * Model: add-k smoothed bigram conditional
  * `P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V)` where `c(w1·)` is the
  * CONTEXT count (occurrences of w1 with a successor — the row count of
  * bigrams starting at w1) and `V` the corpus vocabulary size.
  * `score(doc) = mean over the doc's bigram OCCURRENCES of ln P`;
  * documents with fewer than two tokens carry a NULL score (no
  * evidence — let the caller's length filter judge them, not a fake
  * number).
  *
  * Scale shape (100 TB): training is ONE shuffle on the bigram key plus
  * one on the context key — both standard map-side-partial counts.
  * Scoring joins the doc bigram stream against the model tables on
  * their keys: hot bigrams ("of the") are harmless because the MODEL
  * side has exactly one row per distinct bigram (hash-join build side
  * stays tiny per key); the probe side is the corpus token stream,
  * never paired with itself. The join strategy is the planner's: a
  * small corpus's model frames fall under the broadcast
  * threshold (at plan time, or once AQE has measured them) and the
  * scoring pass runs shuffle-free. Everything is deterministic (counts and
  * ratios of counts), so the DuckDB oracle checks VALUES, not shapes.
  */
object LanguageModel {

  /** (id, w1, w2) — one row per bigram OCCURRENCE, in doc order.
    * Repartitioned by id first so explode parallelism never depends on
    * the input file layout (same rule as [[Dedup.shingles]]). */
  private def bigramStream(df: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val toks = col("__toks")
    df.repartition(col(idCol))
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .filter(size(toks) >= 2)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(toks) - 2), i =>
          struct(element_at(toks, (i + 1).cast("int")).as("w1"),
            element_at(toks, (i + 2).cast("int")).as("w2")))))
      .select(col(idCol), col("col.w1").as("w1"), col("col.w2").as("w2"))
  }

  /** Corpus drift: add-k smoothed unigram KL and Jensen–Shannon
    * divergence between two corpora's token distributions — the
    * batch-vs-reference monitor next to per-doc [[selfScore]] (a
    * batch can score fine doc-by-doc while its MIX drifts: topic
    * collapse, language shift, template flooding all move JS before
    * they move per-doc quality).
    *
    * Both distributions are smoothed over the UNION vocabulary
    * (`P(w) = (c_P(w) + k) / (N_P + k·V)`), so no zero-probability
    * terms exist and both KL directions are finite. Output is one row:
    * `(vocab, kl_pq, kl_qp, js)`, divergences in nats, rounded with
    * the engine-portable [[TextAnalysis.round4]]. JS is computed from
    * the same smoothed P/Q (`M = (P+Q)/2`), bounded by ln 2.
    *
    * Scale shape: two token-count shuffles (map-side partials) and one
    * full-outer join on the token — every frame after the counts is
    * VOCABULARY-shaped, not corpus-shaped; the totals are broadcast
    * one-row frames. Nothing here pairs documents or materializes
    * anything larger than the vocabulary. */
  def unigramDivergence(p: DataFrame, q: DataFrame, textCol: String,
                        k: Double = 0.5): DataFrame = {
    def counts(df: DataFrame): DataFrame = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val cp = counts(p).withColumnRenamed("c", "c_p")
    val cq = counts(q).withColumnRenamed("c", "c_q")
    val joined = cp.join(cq, Seq("w"), "full_outer")
      .select(col("w"), coalesce(col("c_p"), lit(0L)).as("c_p"),
        coalesce(col("c_q"), lit(0L)).as("c_q"))
    val totals = joined.agg(sum(col("c_p")).as("n_p"),
      sum(col("c_q")).as("n_q"), count(lit(1)).as("v"))
    val pw = (col("c_p") + lit(k)) / (col("n_p") + lit(k) * col("v"))
    val qw = (col("c_q") + lit(k)) / (col("n_q") + lit(k) * col("v"))
    val mw = (pw + qw) / 2
    joined.crossJoin(broadcast(totals))
      .agg(max(col("v")).as("vocab"),
        TextAnalysis.round4(sum(pw * log(pw / qw))).as("kl_pq"),
        TextAnalysis.round4(sum(qw * log(qw / pw))).as("kl_qp"),
        TextAnalysis.round4(
          sum(pw * log(pw / mw) + qw * log(qw / mw)) / 2).as("js"))
  }

  /** Train on `corpus` and score its own documents: (id, n_bigrams,
    * lm_score) with `lm_score` = mean ln P(w2|w1) over the doc's
    * bigrams (NULL when the doc has no bigram) — the shape the
    * `txt_lm_score` contract query runs. The bigram stream
    * feeds both the model counts and the scoring probe, so it is
    * computed once and `cache()`d (plan-lifetime convention as
    * [[Dedup.minhashPairs]] — callers running many queries per session
    * should `clearCache()` between them): the corpus is tokenized
    * twice in total (bigrams + vocabulary), not three times. */
  def selfScore(corpus: DataFrame, idCol: String, textCol: String,
                k: Double = 0.5): DataFrame = {
    val bg = bigramStream(corpus, idCol, textCol).cache()
    // the model: two keyed count shuffles plus a distinct-count for
    // the vocabulary — over ALL tokens (not just contexts): the last
    // token of a doc is a word too, and so are single-token docs
    val bigrams = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val contexts = bg.groupBy("w1").agg(count(lit(1)).as("c_ctx"))
    val vocab = corpus
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val logP: Column =
      log((coalesce(col("c"), lit(0L)) + lit(k)) /
        (coalesce(col("c_ctx"), lit(0L)) + lit(k) * col("v")))
    val scored = bg
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(contexts, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        TextAnalysis.round4(avg(logP)).as("lm_score"))
    corpus.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_score"))
  }
}
