package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for MULTI-column data layout — the lever
  * single-column range clustering can't provide. `Sinks.writeClustered`
  * sorts by one key, so a scan filtering on a second column decodes
  * everything the first column's row-group stanzas admit; interleaving
  * the bits of two keys gives every parquet row group a tight min/max
  * box in BOTH dimensions, and a 2-predicate selective scan prunes on
  * each (LayoutRigSpec counts it in decoded rows).
  *
  * The z value is pure codegen'd integer arithmetic (magic-mask bit
  * spreading — shift/and/or only, no UDF), and the identical mask chain
  * replays in any engine: the `x_zorder` query certifies every z value
  * against DuckDB bit-for-bit.
  */
object ZOrder {

  /** Spread the low 16 bits of a non-negative long so bit i lands at
    * position 2i (the even positions): the classic 4-step magic-mask
    * ladder. Plain shift/and/or — portable and codegen'd. */
  private[graft] def spread16(x: Column): Column = {
    val a = x.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton/Z value of two columns' low 16 bits: x on even bit
    * positions, y on odd — a 32-bit curve position. Callers with keys
    * outside [0, 65536) map them into 16-bit space first (proportional
    * bucketing or rank); the rig and query keys fit natively. */
  def zorderValue(x: Column, y: Column): Column =
    spread16(x.cast("long"))
      .bitwiseOR(shiftleft(spread16(y.cast("long")), 1))

  /** The DuckDB-dialect expression computing exactly [[spread16]] —
    * kept HERE, next to the Column form, so the two mask ladders can
    * never drift apart silently. Textual substitution duplicates each
    * step's operand (2^4 copies of the innermost term) — fine for an
    * oracle, wrong for the engine side, which is why the Column form
    * exists. */
  private[graft] def spread16Sql(c: String): String = {
    // ::BIGINT first: on an INT32 column the final `<< 1` in
    // zorderValueSql would overflow 32-bit arithmetic (bit 30 is set
    // for y >= 32768) — the Column form computes in long, and the twin
    // must too for ANY input type
    val a = s"(($c)::BIGINT & 65535)"
    val b = s"(($a | ($a << 8)) & 16711935)"
    val d4 = s"(($b | ($b << 4)) & 252645135)"
    val d2 = s"(($d4 | ($d4 << 2)) & 858993459)"
    s"(($d2 | ($d2 << 1)) & 1431655765)"
  }

  /** DuckDB-dialect z-value expression (see [[zorderValue]]). */
  def zorderValueSql(x: String, y: String): String =
    s"(${spread16Sql(x)} | (${spread16Sql(y)} << 1))"

  /** N-column Morton value: column j's bit i lands at curve position
    * i*k + j, each column contributing its low ⌊32/k⌋ bits — the same
    * "only the low bits participate" contract as [[zorderValue]], which
    * is exactly this function at k=2 (delegated, so the certified mask
    * ladder keeps serving the 2-D path). For k >= 3 the interleave is a
    * per-bit shift/and/or fold — ~32 codegen'd integer ops TOTAL
    * regardless of k (bits × k ≈ 32), no masks to derive per stride,
    * and the identical arithmetic replays in any engine
    * ([[zorderValueNSql]]). A real 100 TB layout clusters 3 keys
    * (source × lang × date) as readily as 2. */
  def zorderValueN(cols: Seq[Column]): Column = {
    require(cols.size >= 2 && cols.size <= 8,
      s"z-order interleaves 2..8 columns, got ${cols.size}")
    if (cols.size == 2) zorderValue(cols(0), cols(1))
    else {
      val k = cols.size
      val bits = 32 / k
      cols.zipWithIndex.map { case (c, j) =>
        val cl = c.cast("long")
        (0 until bits).map(i => shiftleft(
            shiftright(cl, i).bitwiseAND(lit(1L)), i * k + j): Column)
          .reduce(_ bitwiseOR _)
      }.reduce(_ bitwiseOR _)
    }
  }

  /** DuckDB-dialect twin of [[zorderValueN]] — kept adjacent for the
    * same no-silent-drift reason as [[spread16Sql]]. */
  def zorderValueNSql(cols: Seq[String]): String = {
    require(cols.size >= 2 && cols.size <= 8,
      s"z-order interleaves 2..8 columns, got ${cols.size}")
    if (cols.size == 2) zorderValueSql(cols(0), cols(1))
    else {
      val k = cols.size
      val bits = 32 / k
      cols.zipWithIndex.map { case (c, j) =>
        (0 until bits)
          .map(i => s"(((($c)::BIGINT >> $i) & 1) << ${i * k + j})")
          .mkString("(", " | ", ")")
      }.mkString("(", " | ", ")")
    }
  }

  /** Curve cells per dimension when interleaving k columns: each gets
    * ⌊32/k⌋ bits of resolution (65536, 1024, 256, ... for k=2,3,4). */
  private def cellsPerDim(k: Int): Long = 1L << (32 / k)

  /** Write a z-ordered parquet copy: range-partitioned AND sorted by
    * the interleaved curve position, so file ranges are curve-disjoint
    * and every row group's min/max stanza is a tight k-D box. The z
    * expression never lands in the data — it exists only as the
    * write-time ordering. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    numFiles: Int = 16,
                    options: Map[String, String] = Map.empty): Unit = {
    val z = zorderValueN(cols.map(col))
    df.repartitionByRange(numFiles, z).sortWithinPartitions(z)
      .write.mode("overwrite").options(options).parquet(path)
  }

  /** 2-D convenience form of [[writeZOrdered]]. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String,
                    yCol: String): Unit =
    writeZOrdered(df, path, Seq(xCol, yCol))

  /** Map an arbitrary-range numeric column into [0, 65536) by
    * proportional min/max scaling — the bridge from real keys to
    * [[zorderValue]]'s 16-bit space. Integer arithmetic on longs, so
    * the mapping is deterministic and engine-portable; a constant
    * column maps to 0. Monotone, which is all curve ordering needs
    * (pruning works on the ORDER of buckets, not their spacing), but
    * proportional scaling keeps skewed keys skewed — heavy skew wants
    * rank bucketing upstream, at the cost of a corpus sort per
    * dimension. */
  private[graft] def scaleTo16(c: Column, lo: Column, hi: Column): Column =
    scaleToCells(c, lo, hi, 65536L)

  /** [[scaleTo16]] at an arbitrary power-of-two cell count — the k-D
    * generalization (each of k interleaved columns scales into
    * [0, 2^⌊32/k⌋)). */
  private[graft] def scaleToCells(c: Column, lo: Column, hi: Column,
                                  cells: Long): Column =
    when(hi <= lo, lit(0L)).otherwise(
      least(lit(cells - 1),
        // Column `/` is DOUBLE division in Spark SQL — make the floor
        // explicit. Exact for key ranges < 2^37 (the product stays
        // inside double's 2^53 integer window); beyond that the bucket
        // boundary can drift an ulp, which write-time ORDERING absorbs
        floor((c.cast("long") - lo).cast("double") * cells.toDouble /
          (hi - lo + 1L).cast("double")).cast("long")))

  /** [[writeZOrdered]] for columns of ANY integer range: one tiny
    * min/max aggregate (a single driver row — bounded, like the CC
    * gate's probe), then the scaled interleave orders the write. The
    * scan-side predicates stay on the ORIGINAL columns — scaling only
    * decides row order, so readers need no knowledge of it. */
  /** Driver-side guard for [[scaleTo16]]'s divisor: `hi - lo + 1` must
    * be representable in a long, or the Column arithmetic silently
    * overflows to a NEGATIVE divisor and the write degrades to an
    * unclustered layout with no error (e.g. raw xxhash64 keys spanning
    * Long.MinValue..Long.MaxValue). Keys that wide should be bucketed
    * (rank or modulo) before scaling — the error says so. */
  private def checkedSpan(name: String, lo: Long, hi: Long): Unit =
    try { Math.addExact(Math.subtractExact(hi, lo), 1L); () }
    catch {
      case _: ArithmeticException => throw new IllegalArgumentException(
        s"z-order column '$name' spans [$lo, $hi] — wider than a 63-bit " +
          "range, so proportional scaling would overflow its divisor " +
          "and produce an unclustered layout; bucket the key (rank or " +
          "modulo into a sub-2^63 range) before z-ordering")
    }

  def writeZOrderedScaled(df: DataFrame, path: String, cols: Seq[String],
                          numFiles: Int = 16,
                          options: Map[String, String] = Map.empty): Unit = {
    require(cols.size >= 2 && cols.size <= 8,
      s"z-order interleaves 2..8 columns, got ${cols.size}")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    require(!mm.anyNull, s"cannot z-order an empty frame into $path")
    val cells = cellsPerDim(cols.size)
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (mm.getLong(2 * i), mm.getLong(2 * i + 1))
      checkedSpan(c, lo, hi)
      scaleToCells(col(c), lit(lo), lit(hi), cells)
    }
    val z = zorderValueN(scaled)
    df.repartitionByRange(numFiles, z).sortWithinPartitions(z)
      .write.mode("overwrite").options(options).parquet(path)
  }

  /** 2-D convenience form of [[writeZOrderedScaled]]. */
  def writeZOrderedScaled(df: DataFrame, path: String, xCol: String,
                          yCol: String): Unit =
    writeZOrderedScaled(df, path, Seq(xCol, yCol))

  /** The skew-proof variant: EQUAL-FREQUENCY rank buckets per dimension
    * instead of proportional value scaling. Proportional scaling
    * collapses under heavy skew (90% of rows on one key → 90% of rows
    * in one curve cell, and that dimension prunes nothing); rank
    * bucketing spends the curve's resolution where the data actually
    * is. Spark's OWN range partitioner does the ranking — one
    * `repartitionByRange` per dimension (sampled boundaries, the same
    * machinery every sort uses at scale; no global window anywhere),
    * with `spark_partition_id()` as the bucket id, which is ascending
    * in the key by the partitioner's contract. Cost: one extra shuffle
    * per dimension over [[writeZOrderedScaled]] — the "sort per
    * dimension" the scaled form's scaladoc warns heavy skew demands.
    * Sampled boundaries make bucket EDGES run-dependent; only the
    * write-time ORDER depends on them, never row content or reader
    * predicates. */
  def writeZOrderedRanked(df: DataFrame, path: String, cols: Seq[String],
                          numFiles: Int = 16,
                          buckets: Int = 0,
                          options: Map[String, String] = Map.empty): Unit = {
    require(cols.size >= 2 && cols.size <= 8,
      s"z-order interleaves 2..8 columns, got ${cols.size}")
    val cells = cellsPerDim(cols.size)
    // default (0) = as many buckets as the arity's bit budget allows,
    // capped at 1024 — a FIXED default of 1024 would violate the
    // advertised 2..8-column contract at k >= 5, where cellsPerDim is
    // 64..16; an explicit buckets value is still validated strictly
    val b = if (buckets == 0) math.min(1024L, cells).toInt else buckets
    require(b > 1 && b <= cells,
      s"buckets must be in (1, $cells] for a ${cols.size}-column " +
        s"interleave (⌊32/k⌋ bits per dimension): $b")
    val scratch = cols.indices.map(i => s"__z$i")
    scratch.foreach(sc => require(!df.columns.contains(sc),
      s"input already has a $sc column — the bucket scratch columns " +
        "would silently replace it"))
    var cur = df
    for ((c, i) <- cols.zipWithIndex)
      cur = cur.repartitionByRange(b, col(c))
        .withColumn(scratch(i), spark_partition_id().cast("long"))
    val z = zorderValueN(scratch.map(col))
    cur.repartitionByRange(numFiles, z).sortWithinPartitions(z)
      .select(df.columns.map(col).toIndexedSeq: _*)
      .write.mode("overwrite").options(options).parquet(path)
  }

  /** 2-D convenience form of [[writeZOrderedRanked]]. */
  def writeZOrderedRanked(df: DataFrame, path: String, xCol: String,
                          yCol: String): Unit =
    writeZOrderedRanked(df, path, Seq(xCol, yCol))
}
