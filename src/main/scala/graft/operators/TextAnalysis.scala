package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-corpus analysis for training-data pipelines: token statistics,
  * quality scoring, language id, and content fingerprinting.
  *
  * Everything is built from codegen'd string/array builtins (split,
  * regexp_count, transform, aggregate) — per-row narrow transforms with no
  * shuffle at all, so these scan at parquet speed regardless of corpus
  * size.
  */
object TextAnalysis {

  /** Cross-engine-deterministic 4-decimal rounding: plain double math
    * (`floor(x*1e4+0.5)/1e4`), identical bit-for-bit in any IEEE engine —
    * unlike `round()`, whose half-way semantics differ between Spark
    * (decimal-repr HALF_UP) and C++-based engines (binary-value rounding).
    */
  def round4(x: Column): Column = floor(x * 10000 + 0.5) / 10000

  /** Whitespace tokens (the corpus-standard cheap tokenizer). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-count estimate: word-piece regex matches plus a
    * chars/4 fallback blend — the standard cheap proxy when the real
    * tokenizer is too expensive for a full-corpus pass. */
  def tokenEstimate(text: Column): Column =
    greatest(regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")),
      ceil(length(text) / 4).cast("int"))

  /** Word n-grams WITH multiplicity (no dedupe — repetition metrics need
    * the counts), joined by single spaces; empty for docs shorter than n.
    *
    * Callers should pass an already-materialized token ARRAY column (not
    * `tokens(text)` inline): expressions referenced inside an interpreted
    * HOF lambda re-evaluate per element — an inline split would tokenize
    * the doc once per n-gram (see Dedup.shingles). */
  private def ngramsOfToks(toks: Column, n: Int): Column =
    filter(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")),
      g => length(g) > 0)

  /** Evaluate `e` ONCE and hand it to `f` as a bound lambda variable —
    * the Column-DSL let-binding. Inside interpreted HOF lambdas a plain
    * subexpression re-evaluates per element; a lambda variable is a slot
    * lookup. Implemented as a 1-element transform. */
  private def bindOnce(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), x => f(x)), 1)

  /** Fraction of n-gram OCCURRENCES that are repeats of an earlier one:
    * 1 - distinct/total — the Gopher-style intra-document repetition
    * signal (0 for a doc with no repeated n-gram). Narrow per-row math;
    * the token array is let-bound so the doc tokenizes once, not once
    * per n-gram. */
  def dupNgramFrac(text: Column, n: Int = 3): Column =
    bindOnce(tokens(text)) { toks =>
      val g = ngramsOfToks(toks, n)
      when(size(g) === 0, lit(0.0))
        .otherwise(lit(1.0) -
          size(array_distinct(g)).cast("double") / size(g))
    }

  /** Fraction of all n-gram occurrences taken by the single most frequent
    * n-gram — the other standard repetition signal (a doc that is one
    * phrase over and over scores ~1). Computed per row with NO shuffle:
    * sort the n-gram array (equal grams become adjacent) and fold once,
    * tracking the current and maximum run length. */
  def topNgramFrac(text: Column, n: Int = 2): Column =
    bindOnce(tokens(text)) { toks =>
      bindOnce(ngramsOfToks(toks, n)) { g =>
        val sorted = sort_array(g)
        val mx = aggregate(sorted,
          struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("mx")),
          (acc, x) => {
            val run = when(x === acc.getField("prev"),
              acc.getField("run") + 1).otherwise(lit(1))
            struct(x.as("prev"), run.as("run"),
              greatest(acc.getField("mx"), run).as("mx"))
          },
          acc => acc.getField("mx"))
        when(size(g) === 0, lit(0.0))
          .otherwise(mx.cast("double") / size(g))
      }
    }

  /** Hashing-trick text featurization: token counts hashed into a dense
    * `dim`-component double vector per document — the classic
    * vocabulary-free text→vector bridge (feeds [[Similarity]] ops
    * directly: text near-dup via cosine, clustering, ANN). Buckets come
    * from md5 (deterministic AND engine-portable, like [[Dedup]]'s LSH
    * hashes), so the vectors — and anything computed from them — replay
    * bit-identically in the DuckDB oracle.
    *
    * Shape: explode tokens → count per (id, bucket) → assemble the dense
    * vector from a bucket→count map (two shuffles, both map-side
    * partial-aggregated; assembly is O(dim × map-lookup) per doc).
    * Returns (idCol, features). */
  def hashFeatures(df: DataFrame, idCol: String, textCol: String,
                   dim: Int = 64, salt: String = "hf:"): DataFrame = {
    val bucket = pmod(conv(substring(md5(
      concat(lit(salt), col("__tok")).cast("binary")), 1, 8), 16, 10)
      .cast("long"), lit(dim))
    val counts = df
      .repartition(col(idCol)) // decouple from single-file input layout
      .select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .withColumn("__b", bucket)
      .groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).cast("double").as("__c"))
    counts.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__c"))))
        .as("__m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("__m"), i.cast("long")), lit(0.0)))
          .as("features"))
  }

  /** Exact top-k frequent tokens WITHOUT the full-vocabulary shuffle —
    * the 100 TB twin of the plain `explode → groupBy(token) → top-k`
    * plan (the `txt_top_terms` contract query). That plan shuffles one
    * partial count per distinct token per task; at web scale the token
    * vocabulary is billions of keys and the shuffle dominates. This is
    * the classic sample-and-verify heavy-hitters scheme instead:
    *
    *  1. CANDIDATES: count tokens on a deterministic md5-coin document
    *     sample (`samplePct`% of docs — same portable coin as
    *     [[Prep.weightedSample]]) and take the top `candidates` — a
    *     shuffle over the SAMPLE's vocabulary only.
    *  2. VERIFY: exact counts over the FULL corpus restricted to those
    *     candidates — the broadcast semi-join filters before the
    *     shuffle, so each task emits at most `candidates` partial rows
    *     regardless of corpus size or vocabulary.
    *
    * Total shuffle volume: O(sample vocab) + O(candidates × tasks),
    * vs O(full vocab) for the naive plan. The output is EXACT counts
    * (step 2 recounts from scratch), so as long as the candidate set
    * covers the true top-k — guaranteed for any corpus where top-k
    * tokens are heavy enough to survive a `samplePct`% document sample
    * into the top `candidates`, the regime heavy-hitter queries live in
    * by definition — the result is value-identical to the exact plan,
    * which is exactly what the `txt_heavy_hitters` oracle (the plain
    * exact SQL) certifies cross-engine. Widen `candidates`/`samplePct`
    * for adversarial near-uniform distributions; candidate generation
    * failing open (a missed heavy hitter) is a hash-mismatch at the
    * correctness gate, never a silent wrong count.
    *
    * Ties are broken (count desc, token asc) at both stages, so the cut
    * is deterministic in both engines. Returns (token, n) — the final
    * top-k ordered by (n desc, token). */
  def heavyHitters(df: DataFrame, idCol: String, textCol: String,
                   k: Int, candidates: Int = 100, samplePct: Int = 25,
                   salt: String = "hh"): DataFrame = {
    require(samplePct > 0 && samplePct <= 100 && candidates >= k)
    val cand = df
      .filter(Prep.md5Bucket(col(idCol), 100, salt) < samplePct)
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc)
      .limit(candidates)
      .select("token")
    df.repartition(col(idCol)) // decouple from single-file input layout
      .select(explode(tokens(col(textCol))).as("token"))
      .join(broadcast(cand), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
  }

  /** Quality metrics struct: char/token counts, mean token length,
    * stopword ratio, punctuation ratio, alpha ratio. */
  def qualityMetrics(text: Column,
                     stopwords: Seq[String] = DefaultStopwords): Column = {
    val toks = tokens(text)
    val nTok = size(toks)
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopArr, lower(t))))
    // explicit char class (not \p{Punct}): identical semantics in Java
    // regex and RE2-based engines, so oracles can replicate it
    val nPunct = regexp_count(text, lit("""[.,;:!?'"()\[\]{}-]"""))
    val nAlpha = regexp_count(text, lit("[A-Za-z]"))
    val len = length(text)
    struct(
      len.as("n_chars"),
      nTok.as("n_tokens"),
      round(length(regexp_replace(text, "\\s+", "")).cast("double") /
        greatest(nTok, lit(1)), 4).as("mean_token_len"),
      round(nStop.cast("double") / greatest(nTok, lit(1)), 4).as("stopword_ratio"),
      round(nPunct.cast("double") / greatest(len, lit(1)), 4).as("punct_ratio"),
      round(nAlpha.cast("double") / greatest(len, lit(1)), 4).as("alpha_ratio"))
  }

  /** Scalar quality score in [0,1]: blended heuristics (length band,
    * stopword presence, alpha density) — the usual pre-training filter
    * shape. Deterministic, tunable weights. */
  def qualityScore(text: Column,
                   stopwords: Seq[String] = DefaultStopwords): Column = {
    val m = qualityMetrics(text, stopwords)
    val lengthOk = when(m("n_tokens").between(10, 10000), 1.0).otherwise(0.3)
    val stopOk = least(m("stopword_ratio") * 5.0, lit(1.0))
    val alphaOk = m("alpha_ratio")
    round4(lengthOk * 0.4 + stopOk * 0.3 + alphaOk * 0.3)
  }

  /** N-gram-heuristic language id: score each language by the fraction of
    * tokens in its marker-word set; argmax with deterministic (alphabetic)
    * tie-break; "und" when nothing matches. Marker sets are tiny and
    * broadcast as literals into codegen. */
  def langId(text: Column,
             markers: Map[String, Seq[String]] = DefaultLangMarkers): Column = {
    val toks = tokens(lower(text))
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      val wordArr = array(words.map(lit): _*)
      struct((size(filter(toks, t => array_contains(wordArr, t))).cast("double") /
        greatest(size(toks), lit(1))).as("score"), lit(lang).as("lang"))
    }
    // array_max on (score, lang) structs picks highest score; ties resolve
    // to the lexicographically LAST lang, so invert: sort desc by score,
    // asc by lang via negated score in a sort + first element
    val best = element_at(
      array_sort(array(scored: _*),
        (a, b) => when(a("score") > b("score"), -1)
          .when(a("score") < b("score"), 1)
          .when(a("lang") < b("lang"), -1)
          .when(a("lang") > b("lang"), 1)
          .otherwise(0)), 1)
    when(best("score") > 0, best("lang")).otherwise(lit("und"))
  }

  /** Content fingerprint: md5 over the sorted distinct token set — stable
    * under token reordering, cross-engine reproducible (md5 is standard). */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " ")
      .cast("binary"))

  /** Normalization for dedup/fingerprint pipelines: lowercase, strip
    * punctuation (explicit cross-engine char class), collapse whitespace,
    * trim. The standard canonical form fed to exact/minhash dedup. */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), """[.,;:!?'"()\[\]{}-]""", ""),
      "\\s+", " "))

  /** PII patterns shared by [[redactPii]] and [[piiCounts]]. Kept to the
    * RE2-compatible subset (no lookaround, no backreferences) so the same
    * pattern strings run identically under Java regex (Spark) and RE2
    * (DuckDB/Go scanners) — cross-engine parity is what makes redaction
    * auditable. Replacement order matters: emails first (their local part
    * may contain digits), then IPs (so a 4-octet address is never
    * half-eaten by the phone pattern), then phones. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhone = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and NANP-style phone numbers with
    * typed placeholder tags — the minimum-viable PII scrub every public
    * training corpus goes through. Pure codegen'd regexp_replace chain:
    * narrow, shuffle-free, scales with the scan. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmail, "<EMAIL>"),
        PiiIp, "<IP>"),
      PiiPhone, "<PHONE>")

  /** Occurrence counts per PII class — the audit row that accompanies any
    * redaction job (how much PII did this corpus contain, per doc?). */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_email" -> regexp_count(text, lit(PiiEmail)),
    "n_ip" -> regexp_count(regexp_replace(text, PiiEmail, "<EMAIL>"), lit(PiiIp)),
    "n_phone" -> regexp_count(
      regexp_replace(regexp_replace(text, PiiEmail, "<EMAIL>"), PiiIp, "<IP>"),
      lit(PiiPhone)))

  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "this")

  /** Tiny marker sets per language (public stopword lists). */
  val DefaultLangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "avec", "une"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "con", "una"),
    "zh" -> Seq("的", "是", "不", "了", "在", "和", "有", "我"))
}
