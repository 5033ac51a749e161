package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value), each with a batch
  * collapse that a contract query runs: [[distinctUsersPerWindow]]
  * (`ev_distinct`) and [[purchaseAttribution]] (`ev_attrib`). The same
  * code runs on a streaming frame (file or kafka source, or a
  * MemoryStream in the specs that pin stream ≡ batch) and on a batch
  * frame.
  *
  * The reference has no streaming (its `execute_stream` is bounded batch
  * pull — SURVEY §2.11); this is part of the training-pipeline
  * extension surface.
  */
object EventsStreaming {

  /** JVM twin of [[graft.operators.Sketches]]' md5 HLL hash family —
    * register = first 32 md5 bits of "hl:r:"+key mod m, rho = 33 -
    * bitlength of an independent 32-bit "hl:w:" hash (33 for the
    * all-zero hash). Byte-identical to the SQL-expression path (both
    * md5 UTF-8 string bytes and take the first 8 hex chars), pinned by
    * spec against [[graft.operators.Sketches.hllSketch]] — which is
    * what lets the streaming register state below be oracled by the
    * same DuckDB SQL as the batch sketch. */
  private[graft] def hllRegisterRho(key: String, m: Int): (Int, Int) = {
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    }
    val r = (h32("hl:r:" + key) % m).toInt
    val w = h32("hl:w:" + key)
    val rho =
      if (w == 0L) 33
      else 33 - (64 - java.lang.Long.numberOfLeadingZeros(w))
    (r, rho)
  }

  /** The HLL estimator over an m-byte register vector — the same
    * formula as [[graft.operators.Sketches.hllEstimate]] (alpha_m
    * harmonic mean + linear-counting small-range correction), on the
    * Aggregator's buffer representation. */
  private[graft] def hllEstimateOf(regs: Array[Byte]): Double = {
    val m = regs.length
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1 + 1.079 / m)
    }
    var s = 0.0
    var v = 0
    var i = 0
    while (i < m) {
      s += 1.0 / (1L << regs(i))
      if (regs(i) == 0) v += 1
      i += 1
    }
    val raw = alpha * m * m / s
    if (raw <= 2.5 * m && v > 0) m * math.log(m.toDouble / v) else raw
  }

  /** HLL register vector as a typed Aggregator: ONE stateful
    * aggregation whose per-group state is exactly m bytes — the shape
    * Structured Streaming needs (chained groupBys are restricted on
    * streams; a register-table intermediate would be a second stateful
    * operator). merge is element-wise max, so partial aggregation and
    * cross-batch state updates compose losslessly (the
    * [[graft.operators.Sketches.hllMerge]] property, JVM-side). */
  private final class HllAgg(m: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        String, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](m)
    def reduce(b: Array[Byte], key: String): Array[Byte] = {
      if (key != null) {
        val (r, rho) = hllRegisterRho(key, m)
        if (rho > b(r)) b(r) = rho.toByte
      }
      b
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder = Encoders.BINARY
    def outputEncoder = Encoders.BINARY
  }

  /** Approximate distinct users per tumbling window — the streaming
    * cardinality counter: watermarked windowed HLL with O(m) state per
    * open window (m = 512 bytes by default), where exact
    * `approx_count_distinct`-free distinct counting would hold every
    * user id seen in the window. The register math is the
    * md5-deterministic [[graft.operators.Sketches]] family, so the
    * BATCH COLLAPSE of this operator (same code on a batch frame — the
    * `ev_distinct` contract query) is hash-oracled by DuckDB replaying
    * the registers, and the streaming spec pins stream ≡ batch
    * collapse. Output: (window_start, est_users). */
  def distinctUsersPerWindow(events: DataFrame,
                             watermark: String = "2 hours",
                             windowLen: String = "1 hour",
                             m: Int = 512): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0,
      s"m must be a power of two >= 16: $m")
    val hll = udaf(new HllAgg(m), Encoders.STRING)
    val est = udf((regs: Array[Byte]) => hllEstimateOf(regs))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(hll(col("user_id").cast("string")).as("registers"))
      .select(col("window.start").as("window_start"),
        est(col("registers")).as("est_users"))
  }

  /** Watermarked stream-stream interval join: each purchase joins the
    * same user's view events from the preceding `horizon` — the
    * attribution join ("which impression led to this purchase"), as a
    * true stream-stream join rather than a batch as-of.
    *
    * Both sides carry watermarks and the join condition bounds view time
    * to [purchase - horizon, purchase], so Spark can expire buffered
    * state once the watermark passes (unbounded state otherwise — the
    * stream-stream-join scale trap). Inner join: purchases with no view
    * in the horizon drop (use the batch [[graft.operators.AsOfJoin]]
    * over landed data for left-join attribution). */
  def purchaseAttribution(events: DataFrame,
                          horizon: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("p_ts"),
        col("value").as("purchase_value"))
      .withWatermark("p_ts", watermark)
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"),
        col("user_id").as("v_user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    purchases.join(views,
      col("user_id") === col("v_user_id") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"))
      .select("purchase_id", "user_id", "p_ts", "purchase_value",
        "view_id", "v_ts")
  }
}
