package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for every left row, attach the temporally closest right
  * row per key (pandas `merge_asof` / kdb `aj` semantics), in any of the
  * three standard directions:
  *
  *  - `backward` (default): greatest right ts <= left ts;
  *  - `forward`: smallest right ts >= left ts;
  *  - `nearest`: whichever of the two is closer, ties to backward
  *    (pandas' tie rule).
  *
  * `tolerance` (same units as `tsCol`, typically micros) drops a match
  * whose |left.ts - right.ts| exceeds it — the row survives with NULLs,
  * exactly like an unmatched left row.
  *
  * Implementation is the union trick, not a range join: tag and union
  * both sides, then per key in timestamp order carry the right side's
  * values (and matched timestamp) across with
  * `last(..., ignoreNulls = true)` over an unbounded-preceding window —
  * ascending for backward, descending for forward, both for nearest —
  * and keep only left rows. Cost is ONE shuffle on the keys (nearest
  * adds a second SORT within the same exchange, not a second shuffle) —
  * the same shape as a window aggregate — instead of the
  * O(|left| x |right per key|) expansion a theta-join suffers, so it
  * holds at 100 TB exactly like sessionization does. Ties
  * (left.ts == right.ts) are inclusive in both directions: the right row
  * sorts first and is visible to the left row, matching DuckDB's
  * `ASOF JOIN ... ON l.ts >= r.ts` / `<=` (which oracle this operator).
  *
  * Contract: `right` must be unique per (keyCols, tsCol) — pre-aggregate
  * if necessary — otherwise which duplicate wins is plan-dependent.
  * Rows with no match get NULLs (left-join semantics).
  */
object AsOfJoin {

  def asofBackward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                   tsCol: String, valueCols: Seq[String],
                   prefix: String = "asof_"): DataFrame =
    asof(left, right, keyCols, tsCol, valueCols, "backward", None, prefix)

  def asof(left: DataFrame, right: DataFrame, keyCols: Seq[String],
           tsCol: String, valueCols: Seq[String],
           direction: String = "backward",
           tolerance: Option[Long] = None,
           prefix: String = "asof_"): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"unknown as-of direction '$direction'")
    val leftOther = left.columns.toSeq
      .filterNot(keyCols.contains).filterNot(_ == tsCol)
    // carried payload: each value column + the matched right timestamp
    // (needed for nearest arbitration and the tolerance check)
    val rts = "__rts"
    val lSel = left.columns.toSeq.map(col) ++
      valueCols.map(v =>
        lit(null).cast(right.schema(v).dataType).as(prefix + v)) :+
      lit(null).cast(right.schema(tsCol).dataType).as(rts) :+
      lit(1).as("__is_left")
    val rSel = keyCols.map(col) ++ Seq(col(tsCol)) ++
      leftOther.map(c =>
        lit(null).cast(left.schema(c).dataType).as(c)) ++
      valueCols.map(v => col(v).as(prefix + v)) :+
      col(tsCol).as(rts) :+
      lit(0).as("__is_left")
    val u = left.select(lSel: _*).unionByName(right.select(rSel: _*))

    def fill(df: DataFrame, desc: Boolean, name: String => String): DataFrame = {
      val ord = if (desc) col(tsCol).desc else col(tsCol).asc
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(ord, col("__is_left").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      (valueCols.map(prefix + _) :+ rts).foldLeft(df) { (d, c) =>
        d.withColumn(name(c), last(col(c), ignoreNulls = true).over(w))
      }
    }

    val lts = col(tsCol)
    val withMatches = direction match {
      case "backward" => fill(u, desc = false, c => "__m_" + c)
      case "forward"  => fill(u, desc = true, c => "__m_" + c)
      case "nearest" =>
        val both = fill(fill(u, desc = false, c => "__b_" + c),
          desc = true, c => "__f_" + c)
        // closer side wins; equal distance -> backward (pandas tie rule)
        val useB = col("__f_" + rts).isNull ||
          (col("__b_" + rts).isNotNull &&
            (lts - col("__b_" + rts)) <= (col("__f_" + rts) - lts))
        (valueCols.map(prefix + _) :+ rts).foldLeft(both) { (d, c) =>
          d.withColumn("__m_" + c,
            when(useB, col("__b_" + c)).otherwise(col("__f_" + c)))
        }
    }
    val withinTol: Column = tolerance match {
      case Some(t) => abs(lts - col("__m_" + rts)) <= t
      case None    => col("__m_" + rts).isNotNull
    }
    val projected = valueCols.foldLeft(withMatches) { (d, v) =>
      d.withColumn(prefix + v,
        when(withinTol, col("__m_" + prefix + v)))
    }
    projected.filter(col("__is_left") === 1)
      .drop((Seq("__is_left", rts) ++
        (valueCols.map(prefix + _) :+ rts).flatMap(c =>
          Seq("__m_" + c, "__b_" + c, "__f_" + c))): _*)
  }

  /** Deterministic synthetic per-key timeline rig for the as-of
    * crossover bench: `users` keys, each with ~`viewsPerUser`
    * right-side rows (unique per (user_id, ts) by construction — the
    * operator's contract) and `purchasesPerUser` left-side rows,
    * timestamps xxhash64-scattered over a fixed horizon. Returns
    * (purchases(purchase_id, user_id, ts), views(user_id, ts, v)).
    * This is the dense-history regime where the naive
    * join-then-argmax expansion materializes O(|left| x |right per
    * key|) pair rows while the union+window form shuffles each row
    * once — the crossover JoinRigSpec counts. */
  def syntheticTimeline(spark: org.apache.spark.sql.SparkSession,
                        users: Int, viewsPerUser: Int,
                        purchasesPerUser: Int): (DataFrame, DataFrame) = {
    val horizon = 1000000000L
    val views = spark.range(users.toLong * viewsPerUser)
      .select((col("id") % users).as("user_id"),
        pmod(xxhash64(lit("v"), col("id")), lit(horizon)).as("ts"),
        (col("id") % 997).cast("double").as("v"))
      .groupBy("user_id", "ts").agg(max("v").as("v"))
    val purchases = spark.range(users.toLong * purchasesPerUser)
      .select(col("id").as("purchase_id"),
        (col("id") % users).as("user_id"),
        pmod(xxhash64(lit("p"), col("id")), lit(horizon)).as("ts"))
    (purchases, views)
  }
}
