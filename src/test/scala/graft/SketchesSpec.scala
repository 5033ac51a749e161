package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

class SketchesSpec extends SparkTestBase {
  import spark.implicits._

  private val stream = Seq("a", "a", "a", "b", "b", "c", "d", "d", "d", "d")
    .toDF("k")

  test("count-min never under-counts; min-over-rows bounds collisions") {
    val sketch = Sketches.countMin(stream, "k", width = 4, depth = 3)
    val exact = stream.groupBy("k").agg(count(lit(1)).as("exact"))
    val est = Sketches.countMinEstimate(sketch, exact.select("k"), "k",
        width = 4, depth = 3)
      .join(exact, "k").as[(String, Long, Long)].collect()
    assert(est.nonEmpty)
    est.foreach { case (k, e, x) =>
      assert(e >= x, s"$k under-counted: $e < $x")
    }
    // total sketch mass = depth * stream size (each row increments depth cells)
    val mass = sketch.agg(sum("cnt")).head().getLong(0)
    assert(mass == 3L * 10)
  }

  test("count-min estimates 0 for keys whose buckets were never touched") {
    val sketch = Sketches.countMin(Seq("onlykey").toDF("k"), "k",
      width = 1024, depth = 3)
    val est = Sketches.countMinEstimate(sketch,
        Seq("neverseen-xyz").toDF("k"), "k", width = 1024, depth = 3)
      .as[(String, Long)].head()
    assert(est._2 == 0L)
  }

  test("bloom filter has no false negatives and a sane filter size") {
    val members = (0 until 50).map(i => s"m$i").toDF("k")
    val bf = Sketches.bloomBuild(members, "k", bits = 1024, k = 4)
    assert(bf.count() <= 1024 / 32)
    val probes = ((0 until 50).map(i => s"m$i") ++
      (0 until 200).map(i => s"x$i")).toDF("k")
    val out = Sketches.bloomMightContain(bf, probes, "k",
        bits = 1024, k = 4)
      .as[(String, Boolean)].collect().toMap
    (0 until 50).foreach(i =>
      assert(out(s"m$i"), s"false negative on m$i"))
    // false positives allowed but must be the minority at this sizing
    val fp = (0 until 200).count(i => out(s"x$i"))
    assert(fp < 50, s"implausible FP count $fp/200")
  }

  test("bloom membership is deterministic across rebuilds") {
    val members = (0 until 30).map(i => s"m$i").toDF("k")
    val probes = (0 until 100).map(i => s"p$i").toDF("k")
    def run() = Sketches.bloomMightContain(
      Sketches.bloomBuild(members, "k", bits = 256, k = 3),
      probes, "k", bits = 256, k = 3)
      .as[(String, Boolean)].collect().toMap
    assert(run() == run())
  }

  // --- parameter binding: a sketch travels with the params that built it

  test("probe params default to the values stamped by the build") {
    val sketch = Sketches.countMin(stream, "k", width = 4, depth = 3)
    val exact = stream.groupBy("k").agg(count(lit(1)).as("exact"))
    // no width/depth passed — must come from the stamp and match the
    // explicit-parameter path exactly
    val fromStamp = Sketches.countMinEstimate(sketch, exact.select("k"), "k")
      .as[(String, Long)].collect().toMap
    val explicit = Sketches.countMinEstimate(sketch, exact.select("k"), "k",
        width = 4, depth = 3)
      .as[(String, Long)].collect().toMap
    assert(fromStamp == explicit)

    val bf = Sketches.bloomBuild(stream, "k", bits = 256, k = 3)
    val stamped = Sketches.bloomMightContain(bf, stream, "k")
      .as[(String, Boolean)].collect().toMap
    assert(stamped.keySet == Set("a", "b", "c", "d"))
    assert(stamped.values.forall(identity)) // members: no false negatives
  }

  test("mismatched probe params throw instead of silently corrupting") {
    val sketch = Sketches.countMin(stream, "k", width = 64, depth = 3)
    val e1 = intercept[IllegalArgumentException] {
      Sketches.countMinEstimate(sketch, stream, "k", width = 256, depth = 3)
    }
    assert(e1.getMessage.contains("width"))
    val e2 = intercept[IllegalArgumentException] {
      Sketches.countMinEstimate(sketch, stream, "k", width = 64, depth = 2)
    }
    assert(e2.getMessage.contains("depth"))

    // Bloom: the wrong bits/k is the one way to manufacture a false
    // negative — the documented contract this binding protects
    val bf = Sketches.bloomBuild(stream, "k", bits = 512, k = 3)
    val e3 = intercept[IllegalArgumentException] {
      Sketches.bloomMightContain(bf, stream, "k", bits = 4096, k = 3)
    }
    assert(e3.getMessage.contains("bits"))
    val e4 = intercept[IllegalArgumentException] {
      Sketches.bloomMightContain(bf, stream, "k", bits = 512, k = 4)
    }
    assert(e4.getMessage.contains("k="))
  }

  test("a sketch frame stripped of metadata requires explicit params") {
    val sketch = Sketches.countMin(stream, "k", width = 4, depth = 3)
    // selectExpr rebuilds attributes without the stamp
    val stripped = sketch.selectExpr("d", "bucket", "cnt + 0 AS cnt")
    val e = intercept[IllegalArgumentException] {
      Sketches.countMinEstimate(stripped, stream, "k")
    }
    assert(e.getMessage.contains("no width metadata"))
    // ...but works when the caller states them
    val est = Sketches.countMinEstimate(stripped, stream.select("k"), "k",
        width = 4, depth = 3)
      .as[(String, Long)].collect().toMap
    assert(est("a") >= 3L)
  }

  test("the stamp survives a parquet round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("bfstamp").toString
    Sketches.bloomBuild(stream, "k", bits = 256, k = 3)
      .write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    // no explicit params: only possible if (bits, k) rode the schema
    val out = Sketches.bloomMightContain(reread, stream, "k")
      .as[(String, Boolean)].collect().toMap
    assert(out.values.forall(identity))
  }

  test("hll estimate lands within the theoretical error band and the " +
      "small-range correction is exact-ish on tiny sets") {
    // 5000 planted distinct keys, each repeated 3x (duplicates must not
    // move a cardinality sketch)
    val n = 5000
    val keys = (0 until n).flatMap(i => Seq.fill(3)(s"key_$i")).toDF("k")
    val est = Sketches.hllEstimate(Sketches.hllSketch(keys, "k", m = 512))
      .select("est").as[Double].head()
    // 1.04/sqrt(512) ~ 4.6% standard error; 3 sigma ~ 14%
    assert(math.abs(est - n) / n < 0.14,
      s"hll estimate $est too far from $n")
    // tiny set -> linear-counting branch, which is near-exact
    val tiny = (0 until 20).map(i => s"t$i").toDF("k")
    val estTiny = Sketches.hllEstimate(Sketches.hllSketch(tiny, "k"))
      .select("est").as[Double].head()
    assert(math.abs(estTiny - 20) < 2.0, s"linear counting gave $estTiny")
  }

  test("hll merge is lossless: sketch(A union B) == " +
      "merge(sketch(A), sketch(B)), and mismatched m refuses") {
    val a = (0 until 800).map(i => s"a$i").toDF("k")
    val b = (400 until 1200).map(i => s"a$i").toDF("k") // overlaps A
    val direct = Sketches.hllSketch(a.unionByName(b), "k", m = 256)
      .as[(Long, Int)].collect().toMap
    val merged = Sketches.hllMerge(
        Sketches.hllSketch(a, "k", m = 256),
        Sketches.hllSketch(b, "k", m = 256))
      .as[(Long, Int)].collect().toMap
    assert(merged == direct,
      "register-wise max must equal the union's sketch")
    val ex = intercept[IllegalArgumentException] {
      Sketches.hllMerge(Sketches.hllSketch(a, "k", m = 256),
        Sketches.hllSketch(b, "k", m = 512))
    }
    assert(ex.getMessage.contains("m stamps differ"))
  }

  test("hll m is validated and stamped; empty input estimates 0-ish " +
      "via pure linear counting") {
    intercept[IllegalArgumentException] {
      Sketches.hllSketch(stream, "k", m = 100) // not a power of two
    }
    val sk = Sketches.hllSketch(stream, "k", m = 16)
    // estimate defaults to the stamped m (explicit contradicting m throws)
    val ex = intercept[IllegalArgumentException] {
      Sketches.hllEstimate(sk, m = 64)
    }
    assert(ex.getMessage.contains("built with m=16"))
    val empty = Sketches.hllSketch(stream.filter(lit(false)), "k", m = 16)
    val row = Sketches.hllEstimate(empty, m = 16)
      .select("v_zero", "est").as[(Long, Double)].head()
    assert(row._1 == 16L && row._2 == 0.0,
      s"empty sketch must linear-count to 0: $row")
  }

  test("hll hash width is stamped: 32 on the oracled form, 64 on the " +
      "production twin, and hllMerge refuses to mix them (r17)") {
    val keys = (0 until 100).map(i => s"k$i").toDF("k")
    def hashbits(df: org.apache.spark.sql.DataFrame): Long =
      df.schema.fields.find(_.name == "maxrho").get
        .metadata.getLong("hll_hashbits")
    assert(hashbits(Sketches.hllSketch(keys, "k", m = 64)) == 32L)
    assert(hashbits(Sketches.hllSketch64(keys, "k", m = 64)) == 64L)
    val ex = intercept[IllegalArgumentException] {
      Sketches.hllMerge(Sketches.hllSketch(keys, "k", m = 64),
        Sketches.hllSketch64(keys, "k", m = 64))
    }
    assert(ex.getMessage.contains("hash widths differ"))
    // the merged output propagates the width stamp
    assert(hashbits(Sketches.hllMerge(
      Sketches.hllSketch64(keys, "k", m = 64),
      Sketches.hllSketch64(keys, "k", m = 64))) == 64L)
  }

  test("null keys are not elements under EITHER hash width (r18, from " +
      "the r17 advice: the widths must not disagree on null semantics)") {
    val withNulls = (Seq[Option[String]](None, None) ++
      (0 until 50).map(i => Some(s"k$i"))).toDF("k")
    val clean = (0 until 50).map(i => s"k$i").toDF("k")
    // identical register tables with and without the nulls — a null
    // key hits no register and shifts no estimate, same under both
    // builders (previously the 32-bit form produced an inert
    // (null, null) row while a hash-native 64-bit form would have
    // hashed null into a REAL register)
    def tbl(df: org.apache.spark.sql.DataFrame,
            f: (org.apache.spark.sql.DataFrame, String, Int)
              => org.apache.spark.sql.DataFrame) =
      f(df, "k", 64).as[(Long, Int)].collect().toMap
    assert(tbl(withNulls, Sketches.hllSketch(_, _, _)) ==
      tbl(clean, Sketches.hllSketch(_, _, _)))
    assert(tbl(withNulls, Sketches.hllSketch64(_, _, _)) ==
      tbl(clean, Sketches.hllSketch64(_, _, _)))
  }

  test("hllSketch64: estimate lands within the error band, duplicates " +
      "don't move it, and the register-wise-max merge is lossless") {
    val n = 5000
    val keys = (0 until n).flatMap(i => Seq.fill(3)(s"key_$i")).toDF("k")
    val est = Sketches.hllEstimate(Sketches.hllSketch64(keys, "k", m = 512))
      .select("est").as[Double].head()
    // same band as the 32-bit form: 3 sigma of 1.04/sqrt(512)
    assert(math.abs(est - n) / n < 0.14,
      s"hll64 estimate $est too far from $n")
    // rho stays within the 64-bit window's bound (<= 65 - log2(m) = 56)
    val maxRho = Sketches.hllSketch64(keys, "k", m = 512)
      .agg(org.apache.spark.sql.functions.max("maxrho")).as[Int].head()
    assert(maxRho >= 1 && maxRho <= 56, s"rho out of range: $maxRho")
    val a = (0 until 800).map(i => s"a$i").toDF("k")
    val b = (400 until 1200).map(i => s"a$i").toDF("k")
    val direct = Sketches.hllSketch64(a.unionByName(b), "k", m = 256)
      .as[(Long, Int)].collect().toMap
    val merged = Sketches.hllMerge(
        Sketches.hllSketch64(a, "k", m = 256),
        Sketches.hllSketch64(b, "k", m = 256))
      .as[(Long, Int)].collect().toMap
    assert(merged == direct,
      "register-wise max must equal the union's sketch")
  }

  test("sk_hll and sk_hll64 on a zero-row documents table return no " +
      "rows, as their oracles do") {
    val dir = java.nio.file.Files.createTempDirectory("empty_hll")
    try {
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(0).write.parquet(s"$dir/documents.parquet")
      for (q <- Seq("sk_hll", "sk_hll64")) {
        val out = SparkEntry.queries(q)(spark, dir.toString)
        assert(out.columns.toSeq == Seq("what", "m", "v_zero", "sum_inv",
          "est_hll", "exact_distinct", "err_pct"), q)
        assert(out.collect().isEmpty, q)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
