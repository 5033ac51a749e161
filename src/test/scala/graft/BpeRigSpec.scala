package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** The BPE scale rigs at test scale, built from [[Bpe.syntheticDict]]:
  * pair counting per occurrence vs over the word dict, the encode
  * kernel's executed passes as the merge table grows 8x, and the driver
  * trainer against the distributed loop and the heap model its gate is
  * sized from. Every conclusion is a counted one. */
class BpeRigSpec extends RigSpec {

  /** Dict words as plain text: one symbol string per row, spaces out. */
  private def words(n: Long): DataFrame =
    Bpe.syntheticDict(spark, n)
      .select(regexp_replace(col("ws"), " ", "").as("word"), col("cnt"))

  private def pairs(df: DataFrame, weight: org.apache.spark.sql.Column) =
    df.filter(size(col("syms")) >= 2)
      .select(weight.as("w"), explode(expr("transform(sequence(0, " +
        "size(syms)-2), i -> struct(syms[i] AS lft, syms[i+1] AS rgt))"))
        .as("p"))

  test("pair counting over the word dict produces >= 3x fewer pair slots " +
      "than per occurrence, same pair table") {
    // a Zipf-free but repetitive corpus: each dict word occurs cnt
    // (1..100) times, spread over 200 docs
    val docs = words(2000)
      .select(col("word"), explode(sequence(lit(1L), col("cnt"))).as("i"))
      .groupBy((abs(xxhash64(col("word"), col("i"))) % 200).as("doc_id"))
      .agg(concat_ws(" ", collect_list(col("word"))).as("text"))
      .localCheckpoint()
    val naiveSlots = pairs(docs
      .select(explode(Bpe.normalizeWords(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .select(split(Bpe.symbolize(col("word")), " ").as("syms")), lit(1L))
    val dictSlots = pairs(Bpe.wordFrequencies(docs, "text")
      .select(split(col("ws"), " ").as("syms"), col("cnt")), col("cnt"))
    def table(slots: DataFrame) = slots
      .groupBy(col("p.lft"), col("p.rgt")).agg(sum("w").as("pair_count"))
    val a = table(naiveSlots).localCheckpoint()
    val b = table(dictSlots)
    assert(a.except(b).count() + b.except(a).count() == 0)
    val (n, d) = (naiveSlots.count(), dictSlots.count())
    info(s"pair slots: per-occurrence=$n dict=$d")
    assert(d * 3 < n)
  }

  test("encode kernel: passes <= total symbols, and an 8x merge table " +
      "grows the executed passes <= 1.4x; kernel equals the expression " +
      "path") {
    val merges = Bpe.trainDriver(spark, Bpe.syntheticDict(spark, 30000),
        8192).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
    assert(merges.size == 8192)
    val vocab = words(200000).select("word").localCheckpoint()
    val sub = vocab.filter(abs(xxhash64(col("word"))) % 16 === 0)
      .localCheckpoint()
    val batched = Bpe.batchedVocab(sub, merges.take(1024)).localCheckpoint()
    val kernel = Bpe.kernelVocab(sub, merges.take(1024))
    assert(batched.except(kernel).count() +
      kernel.except(batched).count() == 0)
    val acc1 = spark.sparkContext.longAccumulator("passes_1k")
    val acc8 = spark.sparkContext.longAccumulator("passes_8k")
    // aggregate, never sort: a range partitioner's sampling pass would
    // run the kernel twice and double the counters
    Bpe.kernelVocab(vocab, merges.take(1024), Some(acc1))
      .agg(sum(col("n_tok"))).collect()
    Bpe.kernelVocab(vocab, merges, Some(acc8)).agg(sum(col("n_tok")))
      .collect()
    val symbols = vocab.agg(sum(length(col("word")))).head().getLong(0)
    val ratio = acc8.value.toDouble / acc1.value
    info(s"passes 1k=${acc1.value} 8k=${acc8.value} " +
      f"($ratio%.3fx), total symbols=$symbols")
    assert(acc8.value <= symbols)
    assert(ratio <= 1.4)
  }

  test("driver trainer: distributed trajectory prefix equal, peak heap " +
      "within the per-word model the dict gate assumes") {
    val prefix = Bpe.syntheticDict(spark, 5000).localCheckpoint()
    def rows(df: DataFrame) = df.orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(rows(Bpe.trainDriver(spark, prefix, 8)) ==
      rows(Bpe.trainDistributed(prefix, 8)))

    // autoDictGate budgets 1 KiB of heap per dict word (a quarter of
    // max heap); the trainer's live heap growth must fit that model. A
    // sampler forces a collection every 100 ms while the trainer runs,
    // so what it reads is live data, not uncollected garbage. The
    // 5.2M-word / 32k-merge envelope is shrunk 26x in both.
    val dict = Bpe.syntheticDict(spark, 200000).localCheckpoint()
    val nDict = dict.count()
    val rt = Runtime.getRuntime
    def live(): Long = { System.gc(); rt.totalMemory - rt.freeMemory }
    val base = live()
    @volatile var training = true
    @volatile var peak = base
    val sampler = new Thread(() =>
      while (training) { peak = math.max(peak, live()); Thread.sleep(100) })
    sampler.setDaemon(true)
    sampler.start()
    val n = try Bpe.trainDriver(spark, dict, 1250).count()
      finally { training = false; sampler.join() }
    info(s"$n merges over $nDict words: peak live heap growth " +
      s"${(peak - base) / nDict} B/word")
    assert(n == 1250)
    assert(peak - base <= nDict * 1024)
  }
}
