package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.EngineError.AnalysisError

/** Byte-pair-encoding tokenizer TRAINING as a distributed pipeline — the
  * canonical tokenizer-fitting job a training-data platform runs before
  * any token budget, packing, or dedup-by-token stage can exist
  * (reference keeps text as opaque utf8 columns; cf. src/datasets.rs —
  * tokenization is the first thing a consumer adds on top).
  *
  * The trainer works on the WORD-FREQUENCY dict, not the corpus: one
  * corpus pass builds (word, count), and every merge iteration after
  * that touches only distinct words — the Zipf factor (occurrences /
  * distinct words) is the scale win, exactly why classic BPE trainers
  * count over a word dict. At 100 TB the corpus pass is one shuffle;
  * the per-iteration pair-count groupBy is vocabulary-sized.
  *
  * Everything is deterministic and ENGINE-PORTABLE so the merge
  * trajectory replays bit-identically in the DuckDB oracle
  * (`txt_bpe`):
  *  - normalization strips to [A-Za-z ]+ BEFORE lowercasing (ASCII
  *    lower is portable; unicode case folding is not),
  *  - the best pair is (max count, lexicographically-least "l r")
  *    — both total orders,
  *  - merge application is plain substring `replace` on a
  *    double-space-padded symbol string (see [[applyMerge]]) — no
  *    regex, because RE2 (DuckDB) has no lookbehind, and plain
  *    left-to-right non-overlapping replace IS greedy BPE merge order.
  *
  * No UDFs anywhere: symbol strings flow through codegen'd string
  * builtins, the driver loop holds only the iteration counter, and the
  * per-step frames are stats-truncating-checkpointed like the k-means
  * and CC loops ([[graft.plans.Checkpoints]]).
  */
object Bpe {

  /** Portable normalization: strip to letters/spaces FIRST (so `lower`
    * only ever sees ASCII), then split on runs of spaces. */
  private[graft] def normalizeWords(textCol: Column): Column =
    split(trim(lower(regexp_replace(textCol, "[^A-Za-z ]+", " "))), " +")

  /** A word as its BPE symbol string: single-space-joined characters
    * ("hello" -> "h e l l o"). Merges only ever change the spacing. */
  private[graft] def symbolize(word: Column): Column =
    trim(regexp_replace(word, "(.)", "$1 "))

  /** One corpus pass -> (ws: symbol string, cnt): the word-frequency
    * dict every iteration trains against. */
  def wordFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(normalizeWords(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(symbolize(col("word")).as("ws"), col("cnt"))

  /** Apply one merge (lft, rgt) -> lft||rgt to a symbol string with
    * greedy left-to-right non-overlapping semantics — the BPE rule —
    * using only plain `replace`:
    * double every separator space and pad, so each boundary owns TWO
    * spaces and the pattern " lft  rgt " can claim one space on each
    * side without starving the adjacent match ("a b a b" merges BOTH
    * pairs; "a a a" merges only the left one, exactly like the
    * reference BPE implementations); then collapse the doubled spaces
    * and trim. Portable: `replace` is left-to-right non-overlapping in
    * every engine, no regex dialect involved. */
  private[graft] def applyMerge(ws: Column, lft: Column,
                                    rgt: Column): Column = {
    val padded = concat(lit("  "), replace(ws, lit(" "), lit("  ")),
      lit("  "))
    val pat = concat(lit(" "), lft, lit("  "), rgt, lit(" "))
    val rep = concat(lit(" "), lft, rgt, lit(" "))
    trim(replace(replace(padded, pat, rep), lit("  "), lit(" ")))
  }

  /** Train `nMerges` BPE merges; returns the merge TRAJECTORY
    * (step, lft, rgt, merged, pair_count) — the artifact a tokenizer
    * ships. Stops early (fewer rows) if the dict runs out of pairs.
    *
    * ADAPTIVE GATE (the [[Dedup.connectedComponents]] precedent): after
    * the one corpus pass, the dict is VOCABULARY-sized — for any real
    * corpus a few million rows at most, and usually far less. Below the
    * heap-derived [[autoDictGate]] the dict is collected ONCE and the
    * merge loop runs driver-side (one Spark job total instead of one
    * job + checkpoint per merge — a 32k-merge production vocabulary
    * would otherwise be 32k sequential Spark jobs). Above the gate the
    * distributed loop runs unchanged. Both paths compute the IDENTICAL trajectory (same
    * argmax total order, same greedy merge semantics — spec-pinned),
    * so the gate is a cost decision, never a semantics decision.
    *
    * Per distributed iteration: pair counts are one vocabulary-sized
    * groupBy (each word contributes its adjacent symbol pairs weighted
    * by word count), the argmax travels as a BROADCAST 1-row frame
    * into the merge application (no collect — the driver never sees
    * the pair), and the dict needs no re-aggregation afterwards
    * because two distinct words stay distinct under any merge (spacing
    * changes, the character sequence doesn't) — so an iteration is
    * exactly one shuffle.
    *
    * A corpus with no word of two or more letters (a zero-row one
    * included) has nothing to merge: both paths raise the same named
    * `AnalysisError`. */
  def train(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"nMerges must be positive: $nMerges")
    val (words0, dictSize) = graft.plans.Checkpoints.truncatedWithCount(
      wordFrequencies(df, textCol))
    if (dictSize <= autoDictGate(Runtime.getRuntime.maxMemory()))
      trainDriver(df.sparkSession, words0, nMerges)
    else trainDistributed(words0, nMerges)
  }

  /** The error both trainers raise when the dict has no adjacent symbol
    * pair to merge. */
  private def noPairs: AnalysisError =
    AnalysisError("bpe: nothing to train on (the corpus needs at " +
      "least one word of two or more letters)")

  /** Auto-derived driver-trainer gate: how many dict words fit the
    * driver comfortably. Measured (r12, `bench_bpe_train5m_guard`): a
    * 5.08M-word syllable dict trains 32k merges in ~28 s with a
    * peak-heap delta of ~3.7 GB INCLUDING the one-shot collect
    * transients — ~770 B/word peak, ~200 B/word resident (flat int
    * token store + fused pair table + occurrence buffers). Budget a
    * QUARTER of max heap at a conservative 1 KB/word, floor at the
    * pre-r12 500k constant: an 8 GB driver gates at ~2M words, 64 GB
    * at ~16M — a real web-corpus dict lands driver-side instead of
    * paying the 1-job-per-merge distributed loop. */
  private[graft] def autoDictGate(maxHeapBytes: Long): Long =
    math.max(500000L, maxHeapBytes / 4 / 1024)

  /** The above-gate merge loop: one shuffle + checkpoint per merge (see
    * [[train]]'s scaladoc). Correct at any dict size, expensive in JOBS
    * — a 32k-merge vocabulary is 32k sequential shuffles, which is why
    * the gate prefers the driver trainer whenever the dict fits. */
  private[graft] def trainDistributed(words0: DataFrame,
                                      nMerges: Int): DataFrame = {
    var words = words0
    var traj = Vector.empty[DataFrame]
    var exhausted = false
    var step = 1
    while (step <= nMerges && !exhausted) {
      val syms = words.withColumn("syms", split(col("ws"), " "))
      val pairs = syms.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms)-2), " +
            "i -> struct(syms[i] AS lft, syms[i+1] AS rgt))")).as("p"))
        .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
        .agg(sum("cnt").as("pair_count"))
      val (best, n) = graft.plans.Checkpoints.truncatedWithCount(
        pairs.orderBy(col("pair_count").desc,
            concat(col("lft"), lit(" "), col("rgt")).asc)
          .limit(1)
          .select(lit(step).as("step"), col("lft"), col("rgt"),
            col("pair_count")))
      if (n == 0) exhausted = true
      else {
        traj :+= best
        words = graft.plans.Checkpoints.truncated(
          words.crossJoin(broadcast(best.select("lft", "rgt")))
            .select(applyMerge(col("ws"), col("lft"), col("rgt")).as("ws"),
              col("cnt")))
        step += 1
      }
    }
    if (traj.isEmpty) throw noPairs
    traj.reduce(_ unionByName _)
      .withColumn("merged", concat(col("lft"), col("rgt")))
      .select("step", "lft", "rgt", "merged", "pair_count")
  }

  /** The below-gate merge loop: the (ws, cnt) dict collected once, then
    * classic BPE training over symbol arrays -- same total order as the
    * distributed argmax ((max count, lexicographically-least "l r")),
    * same greedy merge, so the trajectory is bit-identical.
    *
    * Engineered for real web-corpus dicts (the r12 gate-widening ask;
    * see the measured numbers on [[train]]'s auto-derived threshold):
    *  - symbols intern to Int ids and a pair is ONE Long (hi = left
    *    id, lo = right id) in unboxed LongMap counts -- no tuple or
    *    String allocation on the hot path (the r11 form's heap
    *    comparator built two fresh "l r" strings PER COMPARE, which
    *    dominated the profile at 500k words);
    *  - the INVERTED OCCURRENCE INDEX (pair -> word-id buffer) makes
    *    each merge touch only affected words, and the buffers are
    *    APPEND-ONLY with lazy validation: a word is skipped at merge
    *    time when a per-word step stamp says it was already processed
    *    this step or a rescan shows the pair no longer present, so
    *    unindexing never pays set-removal (the classic lazy-deletion
    *    trade). A merged pair's whole buffer is dropped afterwards:
    *    greedy left-to-right replacement removes every (l, r)
    *    adjacency, and no later merge can recreate one (new
    *    adjacencies always involve the newly created symbol);
    *  - the argmax comes from a LAZY MAX-HEAP over (count, pairKey)
    *    entries: pairs touched by a step are pushed ONCE at step end
    *    (dirty-set dedup with a step stamp), and selection pops stale
    *    entries (count no longer current) until the top is live.
    *    Ties break by the lexicographically least (left, right)
    *    symbol-string pair -- component order equals the distributed
    *    concat("l r") order because symbols cannot contain ' ' (they
    *    are read by splitting on it) and ' ' sorts below every symbol
    *    character, so the prefix case agrees too. */
  private[graft] def trainDriver(spark: SparkSession, dict: DataFrame,
                                 nMerges: Int): DataFrame = {
    import scala.collection.mutable
    val symId = mutable.HashMap.empty[String, Int]
    val symStr = mutable.ArrayBuffer.empty[String]
    def intern(s: String): Int =
      symId.getOrElseUpdate(s, { symStr += s; symStr.size - 1 })
    // collect once, then re-pack into ONE flat token array (off/lens
    // index it per word): no per-word object headers, no boxing, and
    // every merge rewrites a word IN PLACE inside its slot (merges only
    // shrink words). The collected Rows go out of scope here so the
    // raw "ws" strings are collectable during training.
    val (flat, off, lens, cnts, nWords, maxLen) = {
      val rows0 = dict.select("ws", "cnt").collect()
      val n = rows0.length
      val offA = new Array[Int](n + 1)
      val lenA = new Array[Int](n)
      val cntA = new Array[Long](n)
      var fa = new Array[Int](math.max(16, n * 8))
      var fn = 0
      var mx = 1
      var wi = 0
      while (wi < n) {
        val parts = rows0(wi).getString(0).split(" ")
        cntA(wi) = rows0(wi).getLong(1)
        offA(wi) = fn
        lenA(wi) = parts.length
        if (parts.length > mx) mx = parts.length
        if (fn + parts.length > fa.length)
          fa = java.util.Arrays.copyOf(fa,
            math.max(fa.length * 2, fn + parts.length))
        var j = 0
        while (j < parts.length) { fa(fn) = intern(parts(j)); fn += 1; j += 1 }
        wi += 1
      }
      offA(n) = fn
      (fa, offA, lenA, cntA, n, mx)
    }
    def pk(l: Int, r: Int): Long =
      (l.toLong << 32) | (r.toLong & 0xffffffffL)
    // count, dirty-step stamp and occurrence buffer live under ONE
    // probe (see [[PairTable]]); `dirty` queues each touched pair once
    // per step for the end-of-step heap flush
    val pt = new PairTable()
    val dirty = new LongBuf(1 << 12)
    var curStep = 0
    def bumpAt(s: Int, k: Long, delta: Long): Unit = {
      pt.cnt(s) += delta
      if (pt.stamp(s) != curStep) { pt.stamp(s) = curStep; dirty += k }
    }
    var wi = 0
    while (wi < nWords) {
      val s = off(wi); val e = s + lens(wi) - 1; val c = cnts(wi)
      var i = s
      while (i < e) {
        val k = pk(flat(i), flat(i + 1))
        val sl = pt.slot(k)
        bumpAt(sl, k, c)
        pt.appendOcc(sl, wi)
        i += 1
      }
      wi += 1
    }
    // max count first; on count ties the lexicographically least
    // (left, right) must win (the distributed orderBy's total order),
    // so the smaller symbol pair compares as the LARGER heap element
    val ord: Ordering[(Long, Long)] = new Ordering[(Long, Long)] {
      def compare(a: (Long, Long), b: (Long, Long)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) return c
        val cl = symStr((b._2 >>> 32).toInt)
          .compareTo(symStr((a._2 >>> 32).toInt))
        if (cl != 0) cl
        else symStr((b._2 & 0xffffffffL).toInt)
          .compareTo(symStr((a._2 & 0xffffffffL).toInt))
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, Long)](ord)
    def flushDirty(): Unit = {
      var i = 0
      while (i < dirty.n) {
        val v = pt.count(dirty.a(i))
        if (v > 0L) heap.enqueue((v, dirty.a(i)))
        i += 1
      }
      dirty.clear()
    }
    flushDirty()
    def popBest(): Long = { // live pairKey, or -1 when exhausted
      while (heap.nonEmpty) {
        val (c, p) = heap.head
        val cur = pt.count(p)
        if (c == cur && cur > 0L) return p
        heap.dequeue() // stale: the pair's current value (if any)
                       // was re-pushed when its step ended
      }
      -1L
    }
    // applying a merge to one word updates ONLY the adjacencies around
    // its replacement sites -- a full unindex/reindex pays ~2*len bumps
    // per affected word where the delta is ~3 changed old pairs and ~2
    // new ones per site. The marking is exact: old adjacency j in
    // {site-1, site, site+1} dies, new adjacency j in {emit-1, emit} is
    // born; overlapping sites dedup through the boolean scratch rows,
    // so consecutive replacements ("l r l r" -> "m m") bump precisely
    // what a full re-index would. The word's old tokens live in a
    // shared scratch copy because the rewrite is in place.
    val scratch = new Array[Int](maxLen)
    val oldMark = new Array[Boolean](maxLen)
    val newMark = new Array[Boolean](maxLen)
    val siteBuf = new Array[Int](maxLen)
    val emitBuf = new Array[Int](maxLen)
    def applyMergeLocal(w: Int, l: Int, r: Int, m: Int): Unit = {
      val base = off(w); val n0 = lens(w); val c = cnts(w)
      System.arraycopy(flat, base, scratch, 0, n0)
      var nSites = 0
      var read = 0
      var write = 0
      while (read < n0) {
        if (read + 1 < n0 && scratch(read) == l && scratch(read + 1) == r) {
          siteBuf(nSites) = read; emitBuf(nSites) = write; nSites += 1
          flat(base + write) = m; write += 1; read += 2
        } else { flat(base + write) = scratch(read); write += 1; read += 1 }
      }
      val n1 = write
      lens(w) = n1
      var s = 0
      while (s < nSites) {
        val p0 = siteBuf(s)
        if (p0 > 0) oldMark(p0 - 1) = true
        oldMark(p0) = true
        if (p0 + 2 < n0) oldMark(p0 + 1) = true
        val q = emitBuf(s)
        if (q > 0) newMark(q - 1) = true
        if (q + 1 < n1) newMark(q) = true
        s += 1
      }
      var j = 0
      while (j < n0 - 1) {
        if (oldMark(j)) {
          val k = pk(scratch(j), scratch(j + 1))
          bumpAt(pt.slot(k), k, -c)
          oldMark(j) = false
        }
        j += 1
      }
      j = 0
      while (j < n1 - 1) {
        if (newMark(j)) {
          val k = pk(flat(base + j), flat(base + j + 1))
          val sl = pt.slot(k)
          bumpAt(sl, k, c)
          pt.appendOcc(sl, w)
          newMark(j) = false
        }
        j += 1
      }
    }
    def containsPair(w: Int, l: Int, r: Int): Boolean = {
      val s = off(w); val e = s + lens(w) - 1
      var i = s
      while (i < e) {
        if (flat(i) == l && flat(i + 1) == r) return true
        i += 1
      }
      false
    }
    val seenStamp = new Array[Int](nWords) // 0 = never; steps start at 1
    val affected = new IntBuf(1 << 12)
    val traj = Vector.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      curStep = step
      val p = popBest()
      if (p < 0L) exhausted = true
      else {
        val l = (p >>> 32).toInt
        val r = (p & 0xffffffffL).toInt
        val ls = symStr(l); val rs = symStr(r)
        traj += ((step, ls, rs, ls + rs, pt.count(p)))
        val m = intern(ls + rs)
        affected.clear()
        val buf = pt.occAt(p)
        if (buf != null) {
          var i = 0
          while (i < buf.n) {
            val w = buf.a(i)
            if (seenStamp(w) != step && containsPair(w, l, r)) {
              seenStamp(w) = step; affected += w
            }
            i += 1
          }
        }
        pt.dropOcc(p) // every (l, r) adjacency dies with this step
        java.util.Arrays.sort(affected.a, 0, affected.n)
        var ai = 0
        while (ai < affected.n) {
          applyMergeLocal(affected.a(ai), l, r, m)
          ai += 1
        }
        flushDirty()
        step += 1
      }
    }
    val rows = traj.result()
    if (rows.isEmpty) throw noPairs
    import spark.implicits._
    rows.toDF("step", "lft", "rgt", "merged", "pair_count")
  }

  /** Growable unboxed int buffer for the trainer's occurrence index --
    * scala.collection.mutable.ArrayBuffer[Int] boxes every append, and
    * the init pass alone appends ~9 entries per dict word. */
  private final class IntBuf(initial: Int = 8) {
    var a = new Array[Int](initial)
    var n = 0
    def +=(x: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = x
      n += 1
    }
    def clear(): Unit = n = 0
  }

  /** [[IntBuf]]'s long twin (the dirty-pair queue). */
  private final class LongBuf(initial: Int = 8) {
    var a = new Array[Long](initial)
    var n = 0
    def +=(x: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = x
      n += 1
    }
    def clear(): Unit = n = 0
  }

  /** Open-addressing pair table: ONE linear-probe lookup serves a
    * pair's count, its dirty-step stamp AND its occurrence buffer.
    * Three separate scala LongMaps here were the trainer's dominant
    * cost — every bump paid ~6 hash probes across two maps (jstack
    * samples landed in LongMap.seekEntry almost exclusively); fusing
    * the value planes under one probe sequence also makes the probe
    * cache-resident. Keys are packed (left<<32 | right) symbol-id
    * pairs, always >= 0, so -1L is the empty sentinel. Entries are
    * never removed (no tombstones): the pair universe is merge-bounded
    * — a merged pair can never re-form (new adjacencies always involve
    * the new symbol) — so count-0 slots stay rare and small. */
  private final class PairTable(initialPow: Int = 16) {
    private var cap = 1 << initialPow
    private var mask = cap - 1
    private var keys = {
      val a = new Array[Long](cap); java.util.Arrays.fill(a, -1L); a
    }
    var cnt = new Array[Long](cap)
    var stamp = new Array[Int](cap)
    private var occ = new Array[IntBuf](cap)
    private var used = 0
    private def home(k: Long): Int = {
      var h = k * -7046029254386353131L // fibonacci-ish odd mixer
      h ^= (h >>> 32)
      h.toInt & mask
    }
    /** Find-or-create the slot for key k. May grow the table — never
      * hold a slot index across another slot() call. */
    def slot(k: Long): Int = {
      var i = home(k)
      while (keys(i) != k && keys(i) != -1L) i = (i + 1) & mask
      if (keys(i) == -1L) {
        keys(i) = k
        stamp(i) = Int.MinValue
        used += 1
        if (used * 4 > cap * 3) { grow(); return slot(k) }
      }
      i
    }
    /** Read-only count; 0 when the pair was never seen. */
    def count(k: Long): Long = {
      var i = home(k)
      while (keys(i) != k && keys(i) != -1L) i = (i + 1) & mask
      if (keys(i) == -1L) 0L else cnt(i)
    }
    def appendOcc(slot: Int, w: Int): Unit = {
      var b = occ(slot)
      if (b == null) { b = new IntBuf; occ(slot) = b }
      b += w
    }
    /** The occurrence buffer, or null. Read-only probe. */
    def occAt(k: Long): IntBuf = {
      var i = home(k)
      while (keys(i) != k && keys(i) != -1L) i = (i + 1) & mask
      if (keys(i) == -1L) null else occ(i)
    }
    /** Release a merged pair's buffer (its adjacencies are gone). */
    def dropOcc(k: Long): Unit = {
      var i = home(k)
      while (keys(i) != k && keys(i) != -1L) i = (i + 1) & mask
      if (keys(i) != -1L) occ(i) = null
    }
    private def grow(): Unit = {
      val ok = keys; val oc = cnt; val os = stamp; val ob = occ
      cap <<= 1
      mask = cap - 1
      keys = new Array[Long](cap); java.util.Arrays.fill(keys, -1L)
      cnt = new Array[Long](cap)
      stamp = new Array[Int](cap)
      occ = new Array[IntBuf](cap)
      var i = 0
      while (i < ok.length) {
        val k = ok(i)
        if (k != -1L) {
          var j = home(k)
          while (keys(j) != -1L) j = (j + 1) & mask
          keys(j) = k; cnt(j) = oc(i); stamp(j) = os(i); occ(j) = ob(i)
        }
        i += 1
      }
    }
  }

  /** The normalization contract a merge table is only valid under —
    * stamped into the artifact and demanded back at read time, because
    * merges trained against one tokenization silently mis-tokenize
    * under another. Bump when [[normalizeWords]]/[[symbolize]] change. */
  val NormVersion = "ascii-lower-v1"

  /** Persist a trained merge table as the tokenizer artifact a
    * production job ships: one tiny parquet dir holding the trajectory
    * in step order, with the normalization version and (optionally) the
    * source-corpus provenance stamped into the step column's metadata —
    * the minhash-index / sketches convention: the artifact carries its
    * own contract. */
  def writeMerges(merges: DataFrame, path: String,
                  sourceTag: String = ""): Unit = {
    val b = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("normalization", NormVersion)
    if (sourceTag.nonEmpty) b.putString("source", sourceTag)
    val meta = b.build()
    merges.select(col("step").as("step", meta), col("lft"), col("rgt"),
        col("merged"), col("pair_count"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Read a [[writeMerges]] artifact back as the ordered merge list,
    * validating the stamped contract: metadata present, normalization
    * version matches this build, optional provenance tag matches, and
    * steps are contiguous from 1 (a torn or concatenated artifact must
    * not half-apply). A merge table that fails ANY check refuses to
    * encode — a wrong table silently changes every downstream token
    * count, which is the worst possible failure mode for a budget or
    * packing stage. */
  def readMerges(spark: SparkSession, path: String,
                 expectedSource: Option[String] = None)
      : Seq[(String, String)] = {
    val df = spark.read.parquet(path)
    val m = df.schema("step").metadata
    require(m.contains("normalization"),
      s"$path is missing bpe merge metadata — was it written by " +
        "writeMerges?")
    require(m.getString("normalization") == NormVersion,
      s"merge table at $path was trained under normalization " +
        s"'${m.getString("normalization")}' but this build is " +
        s"'$NormVersion' — refusing to encode with a mismatched " +
        "tokenization")
    expectedSource.foreach { want =>
      val got = if (m.contains("source")) m.getString("source") else ""
      require(got == want,
        s"merge table at $path was trained from '$got' but this encode " +
          s"expects '$want' — refusing to tokenize with the wrong " +
          "tokenizer")
    }
    val rows = df.select("step", "lft", "rgt").orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    require(rows.nonEmpty, s"merge table at $path is empty")
    rows.zipWithIndex.foreach { case ((s, _, _), i) =>
      require(s == i + 1,
        s"merge table at $path has non-contiguous steps " +
          s"(${rows.map(_._1).mkString(",")}) — torn artifact?")
    }
    rows.map { case (_, l, r) => (l, r) }.toIndexedSeq
  }

  /** ENCODE with a trained merge table: per-document token and word
    * counts under the merges, applied in training order. The merges
    * arrive as literals — the production shape: a tokenizer is trained
    * once and its (small) merge list ships with every job.
    *
    * Same Zipf trick as training: the merge chain is evaluated once per
    * DISTINCT word (a vocabulary-sized frame), then joined back to the
    * per-document occurrence counts — the corpus is never dragged
    * through the merge expressions.
    *
    * SCALE SHAPE: each merge adds ~6 expression nodes, so one
    * projection carrying the whole chain grows linearly with merge
    * count — a 32k–50k-merge production vocabulary would be a
    * ~200k-node expression tree that Catalyst's analyzer recursion and
    * codegen's 64 KB JVM method ceiling cannot survive (the same
    * huge-method threshold [[graft.plans.VectorExpressions]] respects).
    * The chain therefore applies in BATCHES of [[MergesPerStage]] per
    * projection with a stats-truncating checkpoint between batches
    * ([[graft.plans.Checkpoints]]): expression depth is bounded by the
    * batch size, total cost scales linearly with vocab × batches, and
    * the checkpointed frame is VOCABULARY-sized, never corpus-sized.
    * A merge list that fits one batch (the contract queries' 8) keeps
    * the original single-projection lazy plan — no checkpoint, oracle
    * plans unchanged. The batch of 16 is measured, not guessed: each
    * applyMerge nests ~8 Column levels, and Spark 4's recursive
    * ColumnNode->Expression conversion blew a default 1 MB thread
    * stack at 64 merges/projection (~500 nested levels) — 16 keeps the
    * tree ~130 deep, an order of magnitude under that ceiling on any
    * JVM stack size.
    *
    * PRODUCTION PATH past [[KernelThreshold]] merges (r12): a 32k-merge
    * vocabulary through 16-merge batches is ~2,000 checkpointed
    * vocab-stages — linear and safe but job-heavy. Above the threshold
    * the per-word merge runs as ONE mapPartitions kernel over the
    * distinct-word frame against the broadcast merge-rank map: per
    * word, repeatedly find the LOWEST-RANK adjacent pair present and
    * apply it greedy left-to-right (the classic tokenizer loop,
    * O(len² · applied merges) worst case on ≤~30-char words). This is
    * provably the same result as applying the merges in training
    * order: a merge can only create adjacencies that INVOLVE its new
    * symbol, and any rule consuming that symbol was necessarily
    * trained later — so when rank r is the minimum present, no rule
    * below r can ever apply again, and within one rank the greedy
    * left-to-right sweep is exactly [[applyMerge]]'s padded-replace
    * semantics. The kernel is the opaque-per-row case mapPartitions
    * is legitimate for (the [[MediaCodec]] precedent): still
    * vocabulary-sized, one stage, no expression tree at all. An
    * equality spec pins kernel == batched at 512 merges; the
    * kernel's executed passes are counted at 1k vs 8k merges in
    * BpeRigSpec. The threshold of 1024 keeps every contract/oracle query
    * on the expression path (bit-exact DuckDB replay needs the SQL
    * form). */
  def encodeTokenCounts(df: DataFrame, idCol: String, textCol: String,
                        merges: Seq[(String, String)]): DataFrame = {
    // occ feeds BOTH the final join and the vocab derivation — cache,
    // or the corpus is tokenized twice (the dd_spans lesson; pinned in
    // PlanAuditSpec). Plan-lifetime cache convention: lives until the
    // session's cache is cleared.
    val occ = df
      .select(col(idCol), explode(normalizeWords(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("k"))
      .cache()
    val words = occ.select("word").distinct()
    val vocab =
      if (merges.size > KernelThreshold) kernelVocab(words, merges)
      else batchedVocab(words, merges)
    occ.join(vocab, "word")
      .groupBy(col(idCol))
      .agg(sum(col("k") * col("n_tok")).as("n_tokens"),
        sum(col("k")).as("n_words"))
  }

  /** Merges per projection on the expression path. */
  private val MergesPerStage = 16

  /** Merge count above which the encode runs [[kernelVocab]]. */
  private val KernelThreshold = 1024

  /** The expression-path vocabulary derivation behind
    * [[encodeTokenCounts]]'s default path: (word) -> (word, n_tok) by
    * applying the merges in training order as batched [[applyMerge]]
    * projections with checkpoint truncation between batches (see the
    * cost model in [[encodeTokenCounts]]'s scaladoc). Exposed at
    * private[graft] so BpeRigSpec can pin kernel == batched on the same
    * words frame at production merge counts. */
  private[graft] def batchedVocab(words: DataFrame,
                                  merges: Seq[(String, String)],
                                  mergesPerStage: Int = MergesPerStage)
      : DataFrame = {
    val batches = merges.grouped(mergesPerStage).toVector
    var syms = words.withColumn("ws", symbolize(col("word")))
    for ((batch, i) <- batches.zipWithIndex) {
      syms = syms.withColumn("ws", batch.foldLeft(col("ws")) {
        case (c, (l, r)) => applyMerge(c, lit(l), lit(r))
      })
      // truncate between batches only — a single-batch chain stays lazy
      if (i < batches.size - 1)
        syms = graft.plans.Checkpoints.truncated(syms)
    }
    syms.select(col("word"), size(split(col("ws"), " ")).as("n_tok"))
  }

  /** The mapPartitions word-merge kernel behind [[encodeTokenCounts]]'s
    * production path: (word) -> (word, n_tok) under the full merge
    * list. Ranks broadcast as a left-symbol -> (right-symbol -> rank)
    * nested map so the inner loop allocates no lookup keys. Duplicate
    * (l, r) entries in a (hand-built) merge list keep the LOWEST rank —
    * identical to sequential application, where the later duplicate
    * finds nothing left to merge. */
  private[graft] def kernelVocab(words: DataFrame,
                                 merges: Seq[(String, String)],
                                 passCounter: Option[
                                   org.apache.spark.util.LongAccumulator] =
                                   None): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val ranks: Map[String, Map[String, Int]] = merges.zipWithIndex
      .groupBy(_._1._1)
      .map { case (l, rs) =>
        l -> rs.groupBy(_._1._2)
          .map { case (r, es) => r -> es.map(_._2).min }
      }
    val bc = spark.sparkContext.broadcast(ranks)
    words.select(col("word")).as[String].mapPartitions { it =>
      val rk = bc.value
      it.map { w =>
        val syms = scala.collection.mutable.ArrayBuffer.empty[String]
        var ci = 0
        while (ci < w.length) { syms += w.substring(ci, ci + 1); ci += 1 }
        var done = syms.length < 2
        while (!done) {
          // one PASS = one lowest-rank scan over the word's symbols;
          // per word, passes <= applied merges + 1 <= word length — the
          // counted metric behind BpeRigSpec's table-size-flatness
          // check (task-retry overcount is the usual accumulator
          // caveat; the spec runs one deterministic local job)
          passCounter.foreach(_.add(1L))
          // lowest-rank adjacent pair present
          var best = Int.MaxValue
          var bi = -1
          var i = 0
          while (i < syms.length - 1) {
            val m = rk.getOrElse(syms(i), null)
            if (m != null) m.get(syms(i + 1)) match {
              case Some(r) if r < best => best = r; bi = i
              case _ =>
            }
            i += 1
          }
          if (bi < 0) done = true
          else {
            // greedy left-to-right, all non-overlapping occurrences
            val l = syms(bi); val r = syms(bi + 1); val m = l + r
            var j = 0
            while (j < syms.length - 1) {
              if (syms(j) == l && syms(j + 1) == r) {
                syms(j) = m; syms.remove(j + 1)
              }
              j += 1
            }
            done = syms.length < 2
          }
        }
        (w, syms.length)
      }
    }.toDF("word", "n_tok")
  }
}
