package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.EngineError.AnalysisError
import graft.operators.{AsOfJoin, ColumnAppend, ColumnPack, DataFrameOps,
  Similarity}

/** Generative invariants over the column-engineering core (SURVEY §5
  * bonus: the reference is purely example-based; ScalaCheck hardens the
  * same surface against arbitrary inputs). Raw ScalaCheck generators with
  * a fixed seed (no scalatestplus bridge in the offline dep cache).
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic sample stream from a generator. */
  private def forAll[A](g: Gen[A], n: Int = 12)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val rowsGen: Gen[List[(Option[Int], Option[String], Option[Int])]] =
    Gen.listOfN(6, Gen.zip(
      Gen.option(Gen.chooseNum(-1000, 1000)),
      Gen.option(Gen.alphaNumStr.map(_.take(8))),
      Gen.option(Gen.chooseNum(0, 99))))

  test("colsToJson round-trips through from_json for arbitrary rows") {
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("id", "name", "data")
        val packed = ColumnPack.colsToJson(df, Seq("id", "name", "data"), "j")
        val schema = StructType(Seq(StructField("data", IntegerType),
          StructField("id", IntegerType), StructField("name", StringType)))
        val back = packed.select(from_json(col("j"), schema).as("s"))
          .select("s.id", "s.name", "s.data")
          .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2))))
        assert(back.toSet == rows.map(t =>
          (t._1.map(_.asInstanceOf[Any]), t._2.map(_.asInstanceOf[Any]),
            t._3.map(_.asInstanceOf[Any]))).toSet)
      }
    }
  }

  test("addColumn: wrong-length input always errors; right length never does") {
    forAll(Gen.zip(Gen.chooseNum(1, 8), Gen.chooseNum(0, 10))) { case (n, extra) =>
      val df = spark.range(n).toDF("id")
      val vals = (0 until n + extra).map(_.toString)
      if (extra == 0) {
        val out = ColumnAppend.addColumn(df, "v", vals, StringType)
        assert(out.count() == n)
      } else {
        val e = intercept[AnalysisError](
          ColumnAppend.addColumn(df, "v", vals, StringType))
        assert(e.getMessage == s"Column 'v' has length ${n + extra}, expected $n")
      }
    }
  }

  test("concatDfs row count is the sum of the parts") {
    forAll(Gen.listOfN(3, Gen.chooseNum(0, 20))) { sizes =>
      val dfs = sizes.map(n => spark.range(n).toDF("id"))
      assert(DataFrameOps.concatDfs(dfs).count() == sizes.sum)
    }
  }

  test("addPk is always 0..n-1 regardless of partitioning") {
    forAll(Gen.zip(Gen.chooseNum(1, 50), Gen.chooseNum(1, 8))) { case (n, parts) =>
      val df = spark.range(n).repartition(parts).toDF("id")
      val pks = ColumnAppend.addPk(df, "pk").select("pk").as[Int]
        .collect().sorted.toSeq
      assert(pks == (0 until n))
    }
  }

  private val vecsGen: Gen[List[Array[Float]]] =
    Gen.listOfN(8, Gen.listOfN(6,
      Gen.chooseNum(-100, 100).map(_ / 10.0f)).map(_.toArray))

  test("quantizeInt8: components bounded, cosine within quantization error") {
    forAll(vecsGen, n = 8) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val q8 = Similarity.quantizeInt8(df, "vec_id", "embedding")
      val rows = q8.orderBy("vec_id").collect()
      rows.foreach { r =>
        val qv = r.getSeq[Byte](r.fieldIndex("qvec"))
        assert(qv.forall(b => b >= -127 && b <= 127))
      }
      // exact vs quantized cosine of the first pair agree to ~1e-2
      import graft.functions.VectorFunctions._
      val exact = df.as("a").crossJoin(df.as("b"))
        .filter(col("a.vec_id") === 0 && col("b.vec_id") === 1)
        .select(cosine(col("a.embedding"), col("b.embedding"))).head().getDouble(0)
      val quant = q8.as("a").crossJoin(q8.as("b"))
        .filter(col("a.vec_id") === 0 && col("b.vec_id") === 1)
        .select(cosine(col("a.qvec"), col("b.qvec"))).head().getDouble(0)
      assert(math.abs(exact - quant) < 0.02,
        s"cosine drifted: exact $exact vs int8 $quant")
    }
  }

  test("asof nearest always picks the minimum |ts diff|, ties backward") {
    val tsGen = Gen.listOfN(6, Gen.chooseNum(0L, 100L))
    forAll(Gen.zip(tsGen, tsGen), n = 10) { case (leftTs, rightTs) =>
      val left = leftTs.distinct.map(t => (1L, t)).toDF("k", "ts")
      val right = rightTs.distinct.map(t => (1L, t, t * 10.0))
        .toDF("k", "ts", "v")
      val out = AsOfJoin.asof(left, right, Seq("k"), "ts", Seq("v"),
          direction = "nearest")
        .select("ts", "asof_v")
        .as[(Long, Option[Double])].collect().toMap
      for (lt <- leftTs.distinct) {
        val expected =
          if (rightTs.isEmpty) None
          else {
            val best = rightTs.distinct.minBy(rt =>
              (math.abs(lt - rt), rt > lt)) // tie -> backward (rt <= lt)
            Some(best * 10.0)
          }
        assert(out(lt) == expected,
          s"left=$lt right=${rightTs.distinct.sorted} got ${out(lt)}")
      }
    }
  }

  test("capPerGroup: at most n per group, a subset of the input, and " +
      "always the order's best") {
    val rowsG = Gen.listOfN(40, Gen.zip(
      Gen.chooseNum(0L, 200L), Gen.chooseNum(0, 4), Gen.chooseNum(0, 9)))
    forAll(Gen.zip(rowsG, Gen.chooseNum(1, 5)), n = 8) { case (raw, cap) =>
      val rows = raw.map { case (id, g, s) => (id, s"g$g", s.toDouble) }
        .distinctBy(_._1) // unique ids make the order total
      val df = rows.toDF("id", "grp", "score")
      val out = graft.operators.Prep.capPerGroup(df, "grp", cap,
          Seq(col("score").desc, col("id").asc))
        .as[(Long, String, Double)].collect().toSeq
      val inSet = rows.toSet
      assert(out.forall(inSet)) // subset, values untouched
      out.groupBy(_._2).foreach { case (g, kept) =>
        val all = rows.filter(_._2 == g)
        assert(kept.size == math.min(cap, all.size), s"group $g")
        // the kept set IS the top-cap under (score desc, id asc)
        val expect = all.sortBy(r => (-r._3, r._1)).take(cap).toSet
        assert(kept.toSet == expect, s"group $g kept wrong members")
      }
    }
  }

  test("heavyHitters always equals the exact top-k when every doc is " +
      "sampled-eligible by construction") {
    // heavy tokens appear in EVERY doc, so any nonempty doc sample
    // nominates them: the sampled path must then be exactly the
    // full-shuffle answer for arbitrary doc counts and k
    val gen = Gen.zip(Gen.chooseNum(20, 60), Gen.chooseNum(1, 4))
    forAll(gen, n = 6) { case (nDocs, k) =>
      val corpus = (0 until nDocs).map { i =>
        val heavy = Seq.fill(8)("alpha") ++ Seq.fill(5)("beta") ++
          Seq.fill(3)("gamma") ++ Seq.fill(2)("delta")
        ((i * 53L + 7L) % 499L,
          (heavy :+ s"unique${i}").mkString(" "))
      }.toDF("doc_id", "text")
      val hh = graft.operators.TextAnalysis.heavyHitters(corpus,
          "doc_id", "text", k = k, candidates = math.max(k, 10),
          samplePct = 25)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val exact = corpus.select(explode(
          graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t").asc).limit(k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(hh == exact, s"nDocs=$nDocs k=$k")
    }
  }

  test("semanticDedup: kept+dropped partitions the input; survivors " +
      "have no surviving qualifying partner pair") {
    forAll(Gen.chooseNum(12, 36), n = 4) { nVecs =>
      val emb = Rigs.syntheticClusteredCorpus(spark, nVecs,
        dim = 8, clusters = 3, noiseScale = 0.2)
      val out = graft.operators.Dedup.semanticDedup(emb, "vec_id",
        "embedding", k = 3, iters = 2, threshold = 0.9)
      val rows = out.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getBoolean(3)))
      assert(rows.length == nVecs)
      val vecs = emb.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum))
      }
      // no two SURVIVORS in one cluster may still be near-dups — that
      // would mean the drop rule missed a qualifying pair entirely
      val surv = rows.filter(_._3)
      for {
        Array(x, y) <- surv.combinations(2).map(_.toArray)
        if x._2 == y._2
      } assert(cos(vecs(x._1), vecs(y._1)) < 0.9,
        s"survivors ${x._1},${y._1} are still near-dups")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("bpe applyMerge never changes a word's characters, only spacing") {
    import graft.operators.Bpe
    val wordGen = Gen.listOfN(6,
      Gen.chooseNum(1, 8).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
    forAll(Gen.zip(wordGen, Gen.oneOf("a", "b", "ab"),
        Gen.oneOf("a", "b", "c"))) { case (words, l, r) =>
      val syms = words.toDF("word")
        .select(col("word"), Bpe.symbolize(col("word")).as("ws"))
        .select(col("word"),
          Bpe.applyMerge(col("ws"), lit(l), lit(r)).as("m"))
        .collect().map(x => (x.getString(0), x.getString(1)))
      syms.foreach { case (word, merged) =>
        // merging reassigns token boundaries; the underlying character
        // sequence is invariant (the property the whole trainer leans
        // on: distinct words stay distinct)
        assert(merged.replace(" ", "") == word,
          s"merge ($l,$r) corrupted '$word' -> '$merged'")
        // every token is non-empty, no leading/trailing/double spaces
        assert(!merged.startsWith(" ") && !merged.endsWith(" ") &&
          !merged.contains("  "))
      }
    }
  }

  test("bpe encode: token count per word is within [1, word length]") {
    import graft.operators.Bpe
    val docGen = Gen.listOfN(4, Gen.listOfN(5,
      Gen.chooseNum(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('x', 'y')).map(_.mkString)))
      .map(_.mkString(" ")))
    forAll(docGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = Bpe.encodeTokenCounts(df, "doc_id", "text",
          Seq(("x", "y"), ("y", "x"), ("xy", "x")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val chars = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.count(_ != ' ').toLong }.toMap
      out.foreach { case (id, nTok, nWords) =>
        assert(nTok >= nWords, "every word is at least one token")
        assert(nTok <= chars(id), "tokens can never exceed characters")
      }
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("zorder de-interleaves back to the original coordinates") {
    import graft.operators.ZOrder
    forAll(Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 65535L),
        Gen.chooseNum(0L, 65535L)))) { pts =>
      def unspread(z: Long): Long = {
        // inverse magic-mask ladder: collect even bits back to the low 16
        var v = z & 0x55555555L
        v = (v | (v >> 1)) & 0x33333333L
        v = (v | (v >> 2)) & 0x0F0F0F0FL
        v = (v | (v >> 4)) & 0x00FF00FFL
        (v | (v >> 8)) & 0xFFFFL
      }
      val got = pts.toDF("x", "y")
        .select(col("x"), col("y"),
          ZOrder.zorderValue(col("x"), col("y")).as("z"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      got.foreach { case (x, y, z) =>
        assert(unspread(z) == x && unspread(z >> 1) == y,
          s"z=$z does not de-interleave to ($x, $y)")
      }
    }
  }

  test("hammingPairs: banded pair set equals brute force for arbitrary " +
      "fingerprints and bands (r15 generalized multi-index banding)") {
    val fpGen: Gen[(List[Long], Int)] = Gen.zip(
      Gen.listOfN(10, Gen.chooseNum(Long.MinValue, Long.MaxValue)),
      Gen.chooseNum(0, 31))
    forAll(fpGen, n = 8) { case (raw, band) =>
      val fps = raw.distinct.zipWithIndex.map { case (f, i) => (i.toLong, f) }
      if (fps.size >= 2) {
        val expected = (for {
          (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
          h = java.lang.Long.bitCount(fa ^ fb) if h <= band
        } yield (ia, ib, h)).toSet
        val got = graft.operators.Dedup
          .hammingPairs(fps.toDF("id", "fp"), "id", "fp", band)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          .toSet
        assert(got == expected,
          s"band $band: got $got expected $expected over $fps")
      }
    }
  }
}
