package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join strategies for the cases AQE can't fully save at 100 TB:
  * heavy key skew and repeated big-big joins on the same key.
  */
object ScaleJoins {

  /** Skew-salted inner equi-join: the skewed (left) side gets a salt in
    * [0, saltFactor) ([[salt]]), the compact right side is exploded
    * across every salt value, and the join key becomes (key, salt) —
    * spreading a hot key over `saltFactor` reducers. Use when one key
    * holds a disproportionate share of rows and AQE's skew-join
    * splitting isn't available (e.g. non-AQE paths, or skew beyond its
    * thresholds).
    *
    * Right side grows by saltFactor — keep it the smaller input.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltFactor: Int = 16): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    val salted = left.withColumn("__salt", salt(left, saltFactor))
    val exploded = right.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(exploded, Seq(key, "__salt"), "inner").drop("__salt")
  }

  /** The salt of a left row: xxhash64 over all of its columns, mod
    * `saltFactor`. Derived from the row's content, not from `rand()`,
    * so a retried map task routes every row to the same salt — the
    * join never sees a row under two salts, or under none. Identical
    * rows share a salt, so a hot key spreads only as far as its rows
    * differ. */
  private[graft] def salt(left: DataFrame, saltFactor: Int): Column =
    pmod(xxhash64(left.columns.toSeq.map(col): _*), lit(saltFactor))
      .cast("int")

  /** Salt factor MEASURED from the data instead of guessed: estimate the
    * hottest key's row share from a seeded sample, then size the salt so
    * that key's reducer load drops to roughly the average —
    * `ceil(hottest share x shuffle partitions)`, clamped to
    * [1, maxFactor]. A uniform key distribution measures share ~ 1/P and
    * returns 1 (no salting cost); a 90%-hot key at P=32 returns ~29.
    * Cost: one sampled aggregate pass over the skewed side — at 100 TB
    * run it on the same pass that writes/caches the frame, or feed a
    * known histogram instead. */
  def adaptiveSaltFactor(left: DataFrame, key: String,
                         sampleFraction: Double = 0.1,
                         maxFactor: Int = 64,
                         seed: Long = 42L): Int = {
    val p = left.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val row = left.sample(withReplacement = false, sampleFraction, seed)
      .groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
      .head()
    if (row.isNullAt(0) || row.getLong(1) == 0L) 1
    else {
      val share = row.getLong(0).toDouble / row.getLong(1)
      math.max(1, math.min(maxFactor, math.ceil(share * p).toInt))
    }
  }

  /** [[saltedJoin]] with the factor picked by [[adaptiveSaltFactor]]. */
  def adaptiveSaltedJoin(left: DataFrame, right: DataFrame, key: String,
                         sampleFraction: Double = 0.1,
                         maxFactor: Int = 64): DataFrame =
    saltedJoin(left, right, key,
      adaptiveSaltFactor(left, key, sampleFraction, maxFactor))

  /** Write a frame as a bucketed, sorted table: co-locates and pre-sorts
    * rows by join key so later joins/aggregations on that key run with NO
    * exchange (verify with `.explain` — no Exchange above the scans when
    * both sides are bucketed the same way). The 100 TB pattern for a fact
    * table joined repeatedly on the same key.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
}
