package graft

import org.apache.spark.sql.functions._

import graft.core.EngineError.AnalysisError
import graft.operators.{ArtifactMaintenance, Dedup, Similarity, TextAnalysis}

/** Product-quantization ANN: codebook shape, encode/ADC semantics, the
  * flat-LUT indexing under dropped clusters, and the re-rank path. */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  // 8 vectors in dim 4, m=2 subspaces of 2 coords each: two clean planted
  // clusters PER SUBSPACE so a ksub=2 trainer recovers them exactly.
  // Ids 0 and 1 carry DISTINCT patterns in both subspaces — lowest-id
  // init with duplicate seeds would collapse to one cluster (standard
  // kmeans drop-empty behavior, faithfully replayed by the oracle)
  private def corpus = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
    (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
    (2L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
    (3L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
    (4L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
    (5L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
    (6L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
    (7L, Array(0.0f, 1.0f, 1.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("empty corpus or codebooks: a named AnalysisError, not " +
      "NoSuchElementException from head()") {
    val empty = corpus.filter(lit(false))
    val train = intercept[AnalysisError](
      Similarity.pqTrain(empty, "vec_id", "embedding", m = 2, ksub = 2))
    assert(train.getMessage.contains("pqTrain: empty input"))
    val proj = intercept[AnalysisError](
      Similarity.randomProject(empty, "embedding", outDim = 2))
    assert(proj.getMessage.contains("randomProject: empty input"))
    val noBooks = Seq.empty[(Int, Int, Seq[Double], Double)]
      .toDF("sub", "cid", "centroid", "c_nsq")
    val enc = intercept[AnalysisError](
      Similarity.pqEncode(corpus, "vec_id", "embedding", noBooks))
    assert(enc.getMessage.contains("pqEncode: empty codebooks"))
  }

  test("pqEncode reads its codebook geometry in one aggregate: its eager " +
      "work launches the jobs of a single codebook aggregate") {
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, ksub = 2, iters = 2).localCheckpoint()
    val (_, one) = PlanCounters.measured(spark)(
      books.agg(max(col("sub"))).head())
    val (_, enc) = PlanCounters.measured(spark)(
      Similarity.pqEncode(corpus, "vec_id", "embedding", books))
    assert(enc.jobs == one.jobs, s"pqEncode launched ${enc.jobs} jobs " +
      s"at construction; one aggregate launches ${one.jobs}")
  }

  test("pqTrain: dense per-subspace cids, centroid length dim/m, c_nsq") {
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, ksub = 2, iters = 2).collect()
    val bySub = books.groupBy(_.getInt(0))
    assert(bySub.keySet == Set(0, 1))
    for ((_, rows) <- bySub) {
      val cids = rows.map(_.getInt(1)).sorted
      assert(cids.sameElements(cids.indices), "cids must be dense from 0")
      for (r <- rows) {
        val c = r.getSeq[Double](2)
        assert(c.length == 2)
        assert(math.abs(r.getDouble(3) - c.map(x => x * x).sum) < 1e-12)
      }
    }
  }

  test("pqEncode: m codes per vector, r_nsq is the chosen centroids' norm") {
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, ksub = 2, iters = 2)
    val bookRows = books.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getSeq[Double](2),
        r.getDouble(3))).toMap
    val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", books)
      .collect()
    assert(enc.length == 8)
    for (r <- enc) {
      val codes = r.getSeq[Byte](1)
      assert(codes.length == 2)
      val expected = codes.zipWithIndex
        .map { case (c, s) => bookRows((s, c.toInt))._2 }.sum
      assert(math.abs(r.getDouble(2) - expected) < 1e-12)
    }
  }

  test("pqTopK ADC equals exact cosine when vectors sit ON the centroids") {
    // the planted corpus is exactly quantizable: every subvector IS a
    // centroid, so the ADC estimate must equal the true cosine (4dp)
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, ksub = 2, iters = 2)
    val pq = Similarity.pqTopK(corpus, corpus, "vec_id", "embedding",
      books, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = Similarity.bruteForceTopK(corpus, corpus, "vec_id",
      "embedding", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        TextAnalysis.round4Value(r.getDouble(2))).toMap
    assert(pq.size == brute.size)
    // same pairs need not be chosen under ADC ties, but every shared
    // pair must carry the identical 4dp cosine — and on this corpus the
    // cosine VALUES per query must match exactly
    val pqByQ = pq.groupBy(_._1._1).view
      .mapValues(_.values.toSeq.sorted).toMap
    val brByQ = brute.groupBy(_._1._1).view
      .mapValues(_.values.toSeq.sorted).toMap
    assert(pqByQ == brByQ)
  }

  test("pqTopK: prebuilt codes path equals inline, shortlist re-rank exact") {
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, ksub = 2, iters = 2)
    val inline = Similarity.pqTopK(corpus, corpus, "vec_id", "embedding",
      books, k = 2).collect().toSet
    val pre = Similarity.pqEncode(corpus, "vec_id", "embedding", books)
    val probed = Similarity.pqTopK(corpus, corpus, "vec_id", "embedding",
      books, k = 2, prebuiltCodes = Some(pre)).collect().toSet
    assert(inline == probed)
    // shortlist re-rank returns TRUE cosines (unrounded), exact top-k
    val rr = Similarity.pqTopK(corpus, corpus, "vec_id", "embedding",
      books, k = 2, shortlist = 7)
    val brute = Similarity.bruteForceTopK(corpus, corpus, "vec_id",
      "embedding", k = 2)
    assert(rr.collect().toSet == brute.collect().toSet)
  }

  test("pqTrain rejects non-dividing m; pqTopK validates codebook density") {
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(corpus, "vec_id", "embedding", m = 3)
    }
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, ksub = 2, iters = 1)
    val holey = books.filter(!(col("sub") === 0 && col("cid") === 0))
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(corpus, corpus, "vec_id", "embedding", holey, k = 2)
    }
  }

  test("ivfPqTopK: full-coverage probe equals flat pqTopK; rerank exact") {
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, ksub = 2, iters = 2)
    // 2 coarse cells from the planted labels (vec % 2 splits the two
    // clean clusters); probing BOTH lists = no candidate pruning, so
    // the composed result must equal the flat ADC scan
    val cents = Similarity.labelCentroids(
      corpus.withColumn("label", col("vec_id") % 2), "label", "embedding")
      .select(col("label").as("cid"), col("centroid"))
    val flat = Similarity.pqTopK(corpus, corpus, "vec_id", "embedding",
      books, k = 3).collect().toSet
    val composed = Similarity.ivfPqTopK(corpus, corpus, "vec_id",
      "embedding", cents, books, k = 3, nProbe = 2).collect().toSet
    assert(composed == flat)
    // with a shortlist re-rank over full coverage, IVF-PQ returns the
    // exact brute top-k
    val rr = Similarity.ivfPqTopK(corpus, corpus, "vec_id", "embedding",
      cents, books, k = 2, nProbe = 2, shortlist = 7).collect().toSet
    val brute = Similarity.bruteForceTopK(corpus, corpus, "vec_id",
      "embedding", k = 2).collect().toSet
    assert(rr == brute)
    // nProbe=1 prunes: every neighbor comes from the query's own list
    val pruned = Similarity.ivfPqTopK(corpus, corpus, "vec_id",
      "embedding", cents, books, k = 3, nProbe = 1)
    val lists = Similarity.ivfAssign(corpus, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- pruned.collect())
      assert(lists(r.getLong(0)) == lists(r.getLong(1)),
        s"nProbe=1 returned a cross-list neighbor: $r")
  }

  test("PQ index artifact: round trip, provenance demand, torn detection") {
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, ksub = 2, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("pq_idx").toString
    Similarity.writePqIndex(corpus, "vec_id", "embedding", books, path,
      sourceTag = "unit-corpus")
    val idx = Similarity.readPqIndex(spark, path,
      expectedSource = Some("unit-corpus"))
    assert(idx.m == 2 && idx.dsub == 2)
    // probing through the artifact equals the inline path
    val inline = Similarity.pqTopK(corpus, corpus, "vec_id", "embedding",
      books, k = 2).collect().toSet
    val probed = Similarity.pqTopK(corpus, corpus, "vec_id", "embedding",
      idx.books, k = 2, prebuiltCodes = Some(idx.codes)).collect().toSet
    assert(probed == inline)
    // wrong provenance refuses to serve
    val ex = intercept[IllegalArgumentException] {
      Similarity.readPqIndex(spark, path, expectedSource = Some("other"))
    }
    assert(ex.getMessage.contains("unit-corpus"))
    // a plain parquet dir is not an index: fails at read, not in a probe
    val bare = java.nio.file.Files.createTempDirectory("pq_bare").toString
    corpus.write.mode("overwrite").parquet(s"$bare/codes")
    intercept[Exception] {
      Similarity.readPqIndex(spark, bare)
    }
  }

  test("PqAdc expression: lookup sum, out-of-range code -> null") {
    // Array[Byte] literals arrive as `binary`, so build array<tinyint>
    // explicitly — the type pqEncode emits. Offsets are fence-post:
    // two subspaces of 2 codes each over a 4-entry LUT -> Seq(0, 2, 4).
    val df = Seq(
      (Array(0, 1), Array(10.0, 20.0, 30.0, 40.0)),
      (Array(1, 1), Array(10.0, 20.0, 30.0, 40.0)),
      (Array(0, 9), Array(10.0, 20.0, 30.0, 40.0)),
      // the r12-advice case: code 2 exceeds subspace 0's block (size 2)
      // but 0+2 still lands INSIDE the flat LUT — pre-fix this read
      // subspace 1's entry (30.0) and returned a wrong sum silently
      (Array(2, 1), Array(10.0, 20.0, 30.0, 40.0)))
      .toDF("icodes", "lut")
      .withColumn("codes", transform(col("icodes"), _.cast("byte")))
    val out = df.select(graft.plans.VectorExpressions.pqAdc(
      col("codes"), col("lut"), Seq(0, 2, 4)).as("v"),
      graft.plans.VectorExpressions.pqAdc(
        col("icodes"), col("lut"), Seq(0, 2, 4)).as("vi")).collect()
    assert(out(0).getDouble(0) == 10.0 + 40.0)
    assert(out(1).getDouble(0) == 20.0 + 40.0)
    assert(out(2).isNullAt(0))
    assert(out(3).isNullAt(0),
      "a code overflowing its own subspace must null, not read the " +
        "next subspace's block")
    // int-typed codes take the same path
    assert(out(0).getDouble(1) == 10.0 + 40.0)
    assert(out(2).isNullAt(1))
    assert(out(3).isNullAt(1))
    // degenerate offsets are rejected at construction: a single entry
    // (no terminal bound) and a zero-width subspace block
    intercept[IllegalArgumentException] {
      graft.plans.VectorExpressions.pqAdc(col("codes"), col("lut"), Seq(0))
      ()
    }
    intercept[IllegalArgumentException] {
      graft.plans.VectorExpressions.pqAdc(col("codes"), col("lut"),
        Seq(0, 2, 2))
      ()
    }
    // a non-zero leading offset would shift every lookup and (if
    // negative) read before the LUT — rejected at construction too
    intercept[IllegalArgumentException] {
      graft.plans.VectorExpressions.pqAdc(col("codes"), col("lut"),
        Seq(-2, 2, 4))
      ()
    }
  }

  test("ivfResiduals: rvec is the 6dp-rounded offset from the assigned " +
      "coarse centroid, cid carried") {
    val cents = Seq((0, Array(1.0, 0.0, 0.0, 1.0)),
      (1, Array(0.0, 1.0, 1.0, 0.0))).toDF("cid", "centroid")
    val res = Similarity.ivfResiduals(corpus, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getSeq[Double](2))))
      .toMap
    // vec 4 = (1,0,1,0): cosine 0.5 with both centroids -> min-cid tie
    // break assigns cid 0; residual = x - cent0
    assert(res(4L)._1 == 0)
    assert(res(4L)._2 == Seq(0.0, 0.0, 1.0, -1.0))
    // vec 0 IS centroid 0: zero residual
    assert(res(0L)._1 == 0 && res(0L)._2.forall(_ == 0.0))
  }

  test("residual IVF-PQ: with per-point codebooks the reconstruction is " +
      "exact — x_nsq equals ||x||² and the composed top-k matches brute") {
    // ksub = corpus size: after assignment every residual subvector is
    // its own (6dp-rounded) centroid, so x̂ = cent + r̂ = x exactly and
    // the ADC estimate degenerates to the true cosine — the identity
    // that certifies the q·cent + q·r̂ decomposition and the
    // per-subspace reconstruction norm
    val cents = Seq((0, Array(1.0, 0.0, 0.0, 1.0)),
      (1, Array(0.0, 1.0, 1.0, 0.0))).toDF("cid", "centroid")
    val resid = Similarity.ivfResiduals(corpus, "vec_id", "embedding",
      cents)
    val books = Similarity.pqTrain(resid, "vec_id", "rvec",
      m = 2, ksub = 8, iters = 2)
    val codes = Similarity.ivfPqResidualEncode(resid, "vec_id", cents,
      books)
    val xn = codes.collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val truth = corpus.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => x.toDouble * x).sum).toMap
    for ((id, n) <- truth)
      assert(math.abs(xn(id) - n) < 1e-9,
        s"x_nsq for $id: ${xn(id)} != $n")
    // probing BOTH lists makes the candidate set complete, so the
    // exact-reconstruction top-k must equal brute-force cosine top-k
    val got = Similarity.ivfPqResidualTopK(corpus, corpus, "vec_id",
        "embedding", cents, books, k = 3, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet
    val want = Similarity.bruteForceTopK(corpus, corpus, "vec_id",
        "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet
    assert(got == want)
  }

  test("residual IVF-PQ index: round-trips probe-equal, and an in-place " +
      "coarse-set retrain (same shape, new values) refuses to serve") {
    import graft.operators.Similarity
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val cents = Seq((0, Array(0.1, 0.1, 0.1, 0.1)),
      (1, Array(0.8, 0.8, 0.8, 0.8))).toDF("cid", "centroid")
    val resid = Similarity.ivfResiduals(corpus, "id", "vec", cents)
    val books = Similarity.pqTrain(resid, "id", "rvec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("respq_idx").toString
    Similarity.writeIvfPqResidualIndex(corpus, "id", "vec", cents, books,
      path, sourceTag = "unit")
    val idx = Similarity.readIvfPqResidualIndex(spark, path,
      expectedSource = Some("unit"))
    // the artifact path computes the same neighbors as the direct path
    val q = corpus.filter(col("id") < 3)
    val direct = Similarity.ivfPqResidualTopK(corpus, q, "id", "vec",
        cents, books, k = 3, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val viaIdx = Similarity.ivfPqResidualTopK(corpus, q, "id", "vec",
        idx.centroids, idx.books, k = 3, nProbe = 2,
        prebuiltCodes = Some(idx.codes))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(direct == viaIdx && direct.nonEmpty)
    // wrong provenance refuses
    intercept[IllegalArgumentException] {
      Similarity.readIvfPqResidualIndex(spark, path,
        expectedSource = Some("other"))
    }
    // in-place coarse retrain: SAME count, SAME schema, different
    // values — the tear the count-style checks cannot see; the
    // fingerprint must catch it
    Seq((0, Array(0.2, 0.2, 0.2, 0.2)), (1, Array(0.7, 0.7, 0.7, 0.7)))
      .toDF("cid", "centroid")
      .write.mode("overwrite").parquet(s"$path/cents")
    val ex = intercept[IllegalArgumentException] {
      Similarity.readIvfPqResidualIndex(spark, path)
    }
    assert(ex.getMessage.contains("fingerprint"))
    // a bare parquet dir is not an index
    val bare = java.nio.file.Files
      .createTempDirectory("respq_bare").toString
    corpus.write.mode("overwrite").parquet(s"$bare/codes")
    intercept[Exception] {
      Similarity.readIvfPqResidualIndex(spark, bare)
    }
  }

  test("ivfPqResidualEncode validates the codebook via pqMeta and " +
      "refuses a fanned-out residuals frame") {
    val cents = Seq((0, Array(1.0, 0.0, 0.0, 1.0)),
      (1, Array(0.0, 1.0, 1.0, 0.0))).toDF("cid", "centroid")
    val resid = Similarity.ivfResiduals(corpus, "vec_id", "embedding",
      cents)
    val books = Similarity.pqTrain(resid, "vec_id", "rvec",
      m = 2, ksub = 2, iters = 2)
    // non-contiguous subspaces (sub 1 dropped): used to mis-slice via
    // the ad-hoc max(sub)+1 probe; must now throw through pqMeta
    val holey = books.filter(col("sub") === 0)
      .union(books.filter(col("sub") === 1)
        .withColumn("sub", lit(2)))
    val ex1 = intercept[IllegalArgumentException] {
      Similarity.ivfPqResidualEncode(resid, "vec_id", cents, holey)
    }
    assert(ex1.getMessage.contains("contiguous"))
    // mixed per-subspace centroid lengths: same class of silent
    // mis-slice, same gate
    val mixed = books.withColumn("centroid",
      when(col("sub") === 1, slice(col("centroid"), 1, 1))
        .otherwise(col("centroid")))
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqResidualEncode(resid, "vec_id", cents, mixed)
    }
    assert(ex2.getMessage.contains("uniform dsub"))
    // residuals built from lists that file every vector under both
    // centroids carry 2 rows per id — the encode groupBy would collect
    // 2m subspace entries and double-count x_nsq; the in-job guard must
    // raise, not mis-encode
    val fanned = Similarity.ivfResiduals(corpus, "vec_id", "embedding",
      cents, prebuiltLists = Some(corpus.select("vec_id")
        .crossJoin(cents.select("cid"))))
    val ex3 = intercept[Exception] {
      Similarity.ivfPqResidualEncode(fanned, "vec_id", cents, books)
        .collect()
    }
    assert(ex3.getMessage.contains("one row per id"),
      s"unexpected error: ${ex3.getMessage}")
  }

  test("residual IVF-PQ index written under custom cid/centroid column " +
      "names reads back (artifact names are canonical)") {
    val corpus = (0 until 16).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 64.0f)))
      .toDF("id", "vec")
    val cents = Seq((0, Array(0.1, 0.1, 0.1, 0.1)),
      (1, Array(0.8, 0.8, 0.8, 0.8))).toDF("bucket", "center")
    val resid = Similarity.ivfResiduals(corpus, "id", "vec", cents,
      cidCol = "bucket", centCol = "center")
    val books = Similarity.pqTrain(resid, "id", "rvec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("respq_custom").toString
    Similarity.writeIvfPqResidualIndex(corpus, "id", "vec", cents, books,
      path, cidCol = "bucket", centCol = "center")
    val idx = Similarity.readIvfPqResidualIndex(spark, path)
    assert(idx.centroids.columns.toSeq == Seq("cid", "centroid"))
    val got = Similarity.ivfPqResidualTopK(corpus, corpus.limit(2), "id",
        "vec", idx.centroids, idx.books, k = 3, nProbe = 2,
        prebuiltCodes = Some(idx.codes))
      .count()
    assert(got > 0)
  }

  test("appendIvfPqResidualIndex: base+append probes equal a " +
      "from-scratch index on the union; retrained cents and duplicate " +
      "ids refuse") {
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val cents = Seq((0, Array(0.1, 0.1, 0.1, 0.1)),
      (1, Array(0.8, 0.8, 0.8, 0.8))).toDF("cid", "centroid")
    val resid = Similarity.ivfResiduals(corpus, "id", "vec", cents)
    val books = Similarity.pqTrain(resid, "id", "rvec", m = 2, ksub = 4)
    val base = corpus.filter(col("id") % 2 === 0)
    val drop = corpus.filter(col("id") % 2 === 1)
    val incPath = java.nio.file.Files
      .createTempDirectory("respq_inc").toString
    val fullPath = java.nio.file.Files
      .createTempDirectory("respq_full").toString
    Similarity.writeIvfPqResidualIndex(base, "id", "vec", cents, books,
      incPath, sourceTag = "unit")
    Similarity.appendIvfPqResidualIndex(drop, "id", "vec", incPath,
      expectedSource = Some("unit"))
    Similarity.writeIvfPqResidualIndex(corpus, "id", "vec", cents, books,
      fullPath, sourceTag = "unit")
    val q = corpus.filter(col("id") < 3)
    def probe(path: String) = {
      val idx = Similarity.readIvfPqResidualIndex(spark, path)
      Similarity.ivfPqResidualTopK(corpus, q, "id", "vec",
          idx.centroids, idx.books, k = 3, nProbe = 2,
          prebuiltCodes = Some(idx.codes))
        .select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().toSet
    }
    assert(probe(incPath) == probe(fullPath) && probe(incPath).nonEmpty,
      "incrementally appended index must probe identically to a " +
        "from-scratch build on the union corpus")
    // a re-delivered drop (overlapping ids) refuses before writing
    val ex1 = intercept[IllegalArgumentException] {
      Similarity.appendIvfPqResidualIndex(drop, "id", "vec", incPath)
    }
    assert(ex1.getMessage.contains("shares ids"))
    // appending under an in-place coarse retrain refuses via the
    // fingerprint (the codes about to be appended would mis-score
    // against every existing probe)
    Seq((0, Array(0.2, 0.2, 0.2, 0.2)), (1, Array(0.7, 0.7, 0.7, 0.7)))
      .toDF("cid", "centroid")
      .write.mode("overwrite").parquet(s"$incPath/cents")
    val more = (100 until 104).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 512.0f)))
      .toDF("id", "vec")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.appendIvfPqResidualIndex(more, "id", "vec", incPath)
    }
    assert(ex2.getMessage.contains("fingerprint"))
  }

  test("appendPqIndex + compactPqIndex: the flat index grows O(batch), " +
      "duplicate ids refuse, compaction keeps probes equal") {
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val books = Similarity.pqTrain(corpus, "id", "vec", m = 2, ksub = 4)
    val incPath = java.nio.file.Files
      .createTempDirectory("pq_inc").toString
    val fullPath = java.nio.file.Files
      .createTempDirectory("pq_full").toString
    Similarity.writePqIndex(corpus.filter(col("id") < 16), "id", "vec",
      books, incPath, sourceTag = "unit")
    for (lo <- 16 until 32 by 8)
      Similarity.appendPqIndex(
        corpus.filter(col("id") >= lo && col("id") < lo + 8),
        "id", "vec", incPath, expectedSource = Some("unit"))
    Similarity.writePqIndex(corpus, "id", "vec", books, fullPath)
    def probe(path: String) = {
      val idx = Similarity.readPqIndex(spark, path)
      Similarity.pqTopK(corpus, corpus.filter(col("id") < 3), "id",
          "vec", idx.books, k = 3, prebuiltCodes = Some(idx.codes))
        .select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().toSet
    }
    assert(probe(incPath) == probe(fullPath) && probe(incPath).nonEmpty,
      "base+append must probe identically to a from-scratch build")
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(corpus.filter(col("id") < 2), "id", "vec",
        incPath)
    }
    assert(ex.getMessage.contains("shares ids"))
    val before = probe(incPath)
    val filesBefore = new java.io.File(s"$incPath/codes").listFiles()
      .count(_.getName.endsWith(".parquet"))
    Similarity.compactPqIndex(spark, incPath, targetPartitions = 1)
    val filesAfter = new java.io.File(s"$incPath/codes").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfter < filesBefore && probe(incPath) == before)
  }

  test("compactIvfPqResidualIndex: append-fragmented codes rewrite to " +
      "fewer, cid-contiguous files; probes and stamps unchanged") {
    val corpus = (0 until 48).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 192.0f)))
      .toDF("id", "vec")
    val cents = Seq((0, Array(0.05, 0.05, 0.05, 0.05)),
      (1, Array(0.9, 0.9, 0.9, 0.9))).toDF("cid", "centroid")
    val resid = Similarity.ivfResiduals(corpus, "id", "vec", cents)
    val books = Similarity.pqTrain(resid, "id", "rvec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("respq_compact").toString
    Similarity.writeIvfPqResidualIndex(
      corpus.filter(col("id") < 16), "id", "vec", cents, books, path,
      sourceTag = "unit")
    // six daily drops, each its own append (its own parquet files)
    for (lo <- 16 until 48 by 6)
      Similarity.appendIvfPqResidualIndex(
        corpus.filter(col("id") >= lo && col("id") < lo + 6),
        "id", "vec", path)
    def parquetFiles(): Int = {
      val d = new java.io.File(s"$path/codes")
      d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    def probe() = {
      val idx = Similarity.readIvfPqResidualIndex(spark, path,
        expectedSource = Some("unit"))
      Similarity.ivfPqResidualTopK(corpus, corpus.filter(col("id") < 3),
          "id", "vec", idx.centroids, idx.books, k = 3, nProbe = 2,
          prebuiltCodes = Some(idx.codes))
        .select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().toSet
    }
    val before = probe()
    val filesBefore = parquetFiles()
    Similarity.compactIvfPqResidualIndex(spark, path,
      targetPartitions = 2)
    assert(parquetFiles() < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> " +
        s"${parquetFiles()})")
    assert(!new java.io.File(s"$path/codes__compact").exists() &&
      !new java.io.File(s"$path/codes__old").exists(),
      "staging dirs must be gone after the swap")
    // stamps survived (read demands them all) and probes are identical
    assert(probe() == before && before.nonEmpty)
    // a second compaction is a no-op-safe rewrite, not an error
    Similarity.compactIvfPqResidualIndex(spark, path,
      targetPartitions = 2)
    assert(probe() == before)
  }

  test("readPqIndex rejects codes paired with books retrained at a " +
      "different ksub (same m/dsub)") {
    import graft.operators.Similarity
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val path = java.nio.file.Files
      .createTempDirectory("pq_retrain").toString
    val books4 = Similarity.pqTrain(corpus, "id", "vec", m = 2, ksub = 4)
    Similarity.writePqIndex(corpus, "id", "vec", books4, path)
    // retrain the BOOKS half only at ksub=8: m and dsub are unchanged,
    // so the pre-r13 m/dsub torn-check passed this pairing
    val books8 = Similarity.pqTrain(corpus, "id", "vec", m = 2, ksub = 8)
    books8.write.mode("overwrite").parquet(s"$path/books")
    val ex = intercept[IllegalArgumentException] {
      Similarity.readPqIndex(spark, path)
    }
    assert(ex.getMessage.contains("retrained"))
  }

  test("deleteFromIvfPqResidualIndex: delete-then-probe equals a " +
      "from-scratch index on the survivors; deleted ids never " +
      "surface; re-delete is a no-op") {
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val cents = Seq((0, Array(0.1, 0.1, 0.1, 0.1)),
      (1, Array(0.8, 0.8, 0.8, 0.8))).toDF("cid", "centroid")
    val resid = Similarity.ivfResiduals(corpus, "id", "vec", cents)
    val books = Similarity.pqTrain(resid, "id", "rvec", m = 2, ksub = 4)
    val delPath = java.nio.file.Files
      .createTempDirectory("respq_del").toString
    val survPath = java.nio.file.Files
      .createTempDirectory("respq_surv").toString
    Similarity.writeIvfPqResidualIndex(corpus, "id", "vec", cents, books,
      delPath, sourceTag = "unit")
    val removed = Similarity.deleteFromIvfPqResidualIndex(
      corpus.filter(col("id") % 2 === 1).select("id"), "id", delPath,
      expectedSource = Some("unit"))
    assert(removed == 16L)
    // from-scratch index on the SURVIVORS under the same cents/books —
    // the semantics a delete must land on (nothing re-encoded)
    Similarity.writeIvfPqResidualIndex(
      corpus.filter(col("id") % 2 === 0), "id", "vec", cents, books,
      survPath, sourceTag = "unit")
    def probe(path: String) = {
      val idx = Similarity.readIvfPqResidualIndex(spark, path,
        expectedSource = Some("unit"))
      Similarity.ivfPqResidualTopK(corpus, corpus.filter(col("id") < 3),
          "id", "vec", idx.centroids, idx.books, k = 3, nProbe = 2,
          prebuiltCodes = Some(idx.codes))
        .select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().toSet
    }
    val got = probe(delPath)
    assert(got == probe(survPath) && got.nonEmpty,
      "deleted index must probe identically to a from-scratch build " +
        "on the surviving corpus")
    assert(got.forall(_._2 % 2 == 0),
      s"a deleted (odd) id surfaced as a neighbor: $got")
    // idempotent: the same delete again removes nothing
    assert(Similarity.deleteFromIvfPqResidualIndex(
      corpus.filter(col("id") % 2 === 1).select("id"), "id",
      delPath) == 0L)
    // stamps survived the rewrite (read demands every one)
    val idx2 = Similarity.readIvfPqResidualIndex(spark, delPath,
      expectedSource = Some("unit"))
    assert(idx2.codes.count() == 16L)
  }

  test("deleteFromPqIndex: flat twin — rows gone from probes, count " +
      "returned, stamps preserved") {
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val books = Similarity.pqTrain(corpus, "id", "vec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("pq_del").toString
    Similarity.writePqIndex(corpus, "id", "vec", books, path,
      sourceTag = "unit")
    val removed = Similarity.deleteFromPqIndex(
      corpus.filter(col("id") >= 24).select("id"), "id", path,
      expectedSource = Some("unit"))
    assert(removed == 8L)
    val idx = Similarity.readPqIndex(spark, path,
      expectedSource = Some("unit"))
    assert(idx.codes.count() == 24L)
    val got = Similarity.pqTopK(corpus, corpus.filter(col("id") < 3),
        "id", "vec", idx.books, k = 5, prebuiltCodes = Some(idx.codes))
      .select("neighbor_id").as[Long].collect().toSet
    assert(got.nonEmpty && got.forall(_ < 24L),
      s"a deleted id surfaced as a neighbor: $got")
    // ids absent from the index are a no-op
    assert(Similarity.deleteFromPqIndex(
      Seq(999L).toDF("id"), "id", path) == 0L)
    // the delete -> re-add cycle: the bloom sidecar was rebuilt from
    // the survivors, so re-appending the deleted rows is a CLEAN drop
    // again (a stale bloom would refuse them as maybe-duplicates the
    // codes scan then disproves; a broken one would admit real dups)
    Similarity.appendPqIndex(corpus.filter(col("id") >= 24), "id",
      "vec", path, expectedSource = Some("unit"))
    assert(Similarity.readPqIndex(spark, path).codes.count() == 32L)
    // and the re-added ids are duplicates now — refusal via the merged
    // bloom
    intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(corpus.filter(col("id") === 30), "id",
        "vec", path)
    }
  }

  test("bloom-gated append guard: a clean drop never scans codes/, a " +
      "real duplicate still refuses, a legacy artifact degrades to " +
      "the scan and upgrades on first append") {
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val books = Similarity.pqTrain(corpus, "id", "vec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("pq_bloom").toString
    Similarity.writePqIndex(corpus, "id", "vec", books, path,
      sourceTag = "unit")
    assert(new java.io.File(s"$path/idbloom").exists(),
      "writePqIndex must write the id-bloom sidecar")
    val idx = Similarity.readPqIndex(spark, path,
      expectedSource = Some("unit"))
    // a clean drop: every id misses the bloom -> "definitely new"
    // certified WITHOUT constructing a codes/ scan at all (the helper
    // returns before any plan over `codes` exists — scannedCodes is
    // the structural witness)
    val clean = ArtifactMaintenance.requireDisjointIds(spark, idx.codes, "id",
      Seq(100L, 101L, 102L).toDF("id"), path, "test")
    assert(clean.bloomUsed && !clean.scannedCodes && clean.maybeHits == 0)
    // a real duplicate: bloom maybe-hit falls through to the pruned
    // id-column probe and refuses with the same named message
    val ex = intercept[IllegalArgumentException] {
      ArtifactMaintenance.requireDisjointIds(spark, idx.codes, "id",
        Seq(5L, 200L).toDF("id"), path, "test")
    }
    assert(ex.getMessage.contains("shares ids"))
    // end-to-end: clean append lands and FOLDS ITS IDS INTO the bloom —
    // re-delivering the same drop refuses via the sidecar's maybe path
    val drop = (32 until 40).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 160.0f)))
      .toDF("id", "vec")
    Similarity.appendPqIndex(drop, "id", "vec", path,
      expectedSource = Some("unit"))
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(drop, "id", "vec", path)
    }
    assert(ex2.getMessage.contains("shares ids"))
    // legacy artifact (pre-r15: no sidecar): guard degrades to the full
    // id-column scan — same refusal, more IO — and the next clean
    // append UPGRADES it
    def rmBloom(): Unit = {
      val d = new java.io.File(s"$path/idbloom")
      d.listFiles().foreach(_.delete()); d.delete()
    }
    rmBloom()
    val legacy = ArtifactMaintenance.requireDisjointIds(spark,
      Similarity.readPqIndex(spark, path).codes, "id",
      Seq(500L).toDF("id"), path, "test")
    assert(!legacy.bloomUsed && legacy.scannedCodes)
    val drop2 = (40 until 44).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 176.0f)))
      .toDF("id", "vec")
    Similarity.appendPqIndex(drop2, "id", "vec", path)
    assert(new java.io.File(s"$path/idbloom").exists(),
      "a requireNewIds append on a legacy artifact must upgrade it")
    // the upgraded sidecar covers BASE + both drops: re-delivery of any
    // of them refuses, and a genuinely clean drop stays scan-free
    val again = ArtifactMaintenance.requireDisjointIds(spark,
      Similarity.readPqIndex(spark, path).codes, "id",
      Seq(900L, 901L).toDF("id"), path, "test")
    assert(again.bloomUsed && !again.scannedCodes)
    intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(drop2, "id", "vec", path)
    }
    // the residual index runs the same guard: a clean drop is certified
    // by the bloom alone, before and after a residual append
    val cents = Seq((0, Array(0.1, 0.1, 0.1, 0.1)),
      (1, Array(0.8, 0.8, 0.8, 0.8))).toDF("cid", "centroid")
    val resBooks = Similarity.pqTrain(
      Similarity.ivfResiduals(corpus, "id", "vec", cents), "id", "rvec",
      m = 2, ksub = 4)
    val resPath = java.nio.file.Files
      .createTempDirectory("respq_bloom").toString
    Similarity.writeIvfPqResidualIndex(corpus, "id", "vec", cents,
      resBooks, resPath)
    def resClean(ids: Long*) = ArtifactMaintenance.requireDisjointIds(spark,
      Similarity.readIvfPqResidualIndex(spark, resPath).codes, "id",
      ids.toDF("id"), resPath, "test")
    val resClean1 = resClean(100L, 101L)
    assert(resClean1.bloomUsed && !resClean1.scannedCodes &&
      resClean1.maybeHits == 0)
    Similarity.appendIvfPqResidualIndex(drop, "id", "vec", resPath)
    val resClean2 = resClean(900L)
    assert(resClean2.bloomUsed && !resClean2.scannedCodes)
    intercept[IllegalArgumentException] {
      Similarity.appendIvfPqResidualIndex(drop, "id", "vec", resPath)
    }
  }

  test("append id-type coercion enforces round-trip fidelity: a lossy " +
      "or unparseable batch id refuses by name instead of truncating") {
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val books = Similarity.pqTrain(corpus, "id", "vec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("pq_cast").toString
    Similarity.writePqIndex(corpus, "id", "vec", books, path)
    // DOUBLE 100.5 is genuinely NEW, but the old bare cast truncated it
    // to BIGINT 100 (r16 advice: with requireNewIds it was then either
    // wrongly refused against an indexed 100, or appended COLLIDING)
    val lossy = Seq((100.5, Array.tabulate(4)(d => d / 10.0f)))
      .toDF("id", "vec")
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(lossy, "id", "vec", path)
    }
    assert(ex.getMessage.contains("round-trip") &&
      ex.getMessage.contains("100.5"))
    // an unparseable STRING id casts to null under the old guard and
    // bypassed the bloom entirely — refused now
    val junk = Seq(("not-a-number", Array.tabulate(4)(d => d / 10.0f)))
      .toDF("id", "vec")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(junk, "id", "vec", path)
    }
    assert(ex2.getMessage.contains("round-trip"))
    // a faithfully-rendering DOUBLE (100.0 -> 100 -> 100.0) still
    // passes — the r15 rendering-coercion behavior is preserved
    val ok = Seq((100.0, Array.tabulate(4)(d => d / 10.0f)))
      .toDF("id", "vec")
    Similarity.appendPqIndex(ok, "id", "vec", path)
    assert(Similarity.readPqIndex(spark, path).codes.count() == 33L)
  }

  test("fingerprint version stamp: a mismatch on a pre-versioning " +
      "artifact names the algorithm change, not a tear (r14 advice)") {
    val corpus = (0 until 16).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 64.0f)))
      .toDF("id", "vec")
    val cents = Seq((0, Array(0.1, 0.1, 0.1, 0.1)),
      (1, Array(0.8, 0.8, 0.8, 0.8))).toDF("cid", "centroid")
    val resid = Similarity.ivfResiduals(corpus, "id", "vec", cents)
    val books = Similarity.pqTrain(resid, "id", "rvec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("respq_fpv").toString
    Similarity.writeIvfPqResidualIndex(corpus, "id", "vec", cents, books,
      path)
    // simulate a pre-versioning write: same intact data, but the codes
    // metadata carries a fingerprint the CURRENT algorithm cannot
    // reproduce (v1 string-rendered doubles) and no version key
    val codes = spark.read.parquet(s"$path/codes").localCheckpoint(true)
    val m0 = codes.schema("codes").metadata
    val legacy = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("pqM", m0.getLong("pqM"))
      .putLong("pqDsub", m0.getLong("pqDsub"))
      .putLong("pqLut", m0.getLong("pqLut"))
      .putString("ivfCentsFp", "0" * 64)
      .build()
    codes.select(col("id"), col("cid"),
        col("codes").as("codes", legacy), col("x_nsq"))
      .write.mode("overwrite").parquet(s"$path/codes")
    val ex = intercept[IllegalArgumentException] {
      Similarity.readIvfPqResidualIndex(spark, path)
    }
    assert(ex.getMessage.contains("fingerprint algorithm") &&
      ex.getMessage.contains("rebuild"),
      s"expected the algorithm-change message, got: ${ex.getMessage}")
    assert(!ex.getMessage.contains("torn"))
  }

  test("compaction self-heals the staged-swap crash state: live dir " +
      "missing, __old present (r14 advice)") {
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val books = Similarity.pqTrain(corpus, "id", "vec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("pq_heal").toString
    Similarity.writePqIndex(corpus, "id", "vec", books, path,
      sourceTag = "unit")
    def probe() = {
      val idx = Similarity.readPqIndex(spark, path,
        expectedSource = Some("unit"))
      Similarity.pqTopK(corpus, corpus.filter(col("id") < 3), "id",
          "vec", idx.books, k = 3, prebuiltCodes = Some(idx.codes))
        .select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().toSet
    }
    val before = probe()
    // simulate a swap that crashed between its two renames: the intact
    // original sits at codes__old, an orphaned rewrite at
    // codes__compact, and there is NO live codes dir
    val dir = java.nio.file.Paths.get(path)
    def crash(): Unit = {
      java.nio.file.Files.move(dir.resolve("codes"),
        dir.resolve("codes__old"))
      if (!java.nio.file.Files.exists(dir.resolve("codes__compact")))
        java.nio.file.Files.createDirectory(dir.resolve("codes__compact"))
    }
    crash()
    // the next compaction heals at entry (pre-heal, its read failed on
    // the missing live dir) and completes normally
    Similarity.compactPqIndex(spark, path, targetPartitions = 1)
    assert(probe() == before && before.nonEmpty)
    assert(!java.nio.file.Files.exists(dir.resolve("codes__old")) &&
      !java.nio.file.Files.exists(dir.resolve("codes__compact")))
    // the same crash state heals at the entry of an append and of a
    // delete too: both read the artifact before they write
    crash()
    val drop = (32 until 36).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 160.0f)))
      .toDF("id", "vec")
    Similarity.appendPqIndex(drop, "id", "vec", path,
      expectedSource = Some("unit"))
    assert(Similarity.readPqIndex(spark, path).codes.count() == 36L)
    crash()
    assert(Similarity.deleteFromPqIndex(drop.select("id"), "id", path,
      expectedSource = Some("unit")) == 4L)
    assert(probe() == before)
    assert(!java.nio.file.Files.exists(dir.resolve("codes__old")) &&
      !java.nio.file.Files.exists(dir.resolve("codes__compact")))
  }

  test("fresh-write crash window: an aborted writePqIndex over an " +
      "existing index leaves NO readable bloom (r15 advice — the old " +
      "artifact's still-valid sidecar beside new codes would certify " +
      "real duplicates as definitely-new)") {
    val base = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val books = Similarity.pqTrain(base, "id", "vec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("pq_fresh_crash").toString
    Similarity.writePqIndex(base, "id", "vec", books, path,
      sourceTag = "unit")
    assert(new java.io.File(s"$path/idbloom").exists())
    // a rewrite whose codes job dies mid-write: the new corpus's vec
    // column throws on the executor, so the codes overwrite starts
    // (invalidation has already run) and never commits
    val boom = udf((i: Long) =>
      if (i < 0) Array(0.0f) else throw new RuntimeException("boom"))
    val bad = base.select((col("id") + 100).as("id"),
      boom(col("id")).as("vec"))
    intercept[Throwable] {
      Similarity.writePqIndex(bad, "id", "vec", books, path,
        sourceTag = "unit")
    }
    assert(!new java.io.File(s"$path/idbloom").exists(),
      "the crash window between the codes overwrite and the bloom " +
        "rebuild must leave NO sidecar — absence degrades to the " +
        "full-scan guard; a stale readable bloom manufactures false " +
        "negatives")
    // the same aborted rewrite through the residual and minhash writers
    val cents = Seq((0, Array(0.1, 0.1, 0.1, 0.1)),
      (1, Array(0.8, 0.8, 0.8, 0.8))).toDF("cid", "centroid")
    val resBooks = Similarity.pqTrain(
      Similarity.ivfResiduals(base, "id", "vec", cents), "id", "rvec",
      m = 2, ksub = 4)
    val resPath = java.nio.file.Files
      .createTempDirectory("respq_fresh_crash").toString
    Similarity.writeIvfPqResidualIndex(base, "id", "vec", cents, resBooks,
      resPath, sourceTag = "unit")
    assert(new java.io.File(s"$resPath/idbloom").exists())
    intercept[Throwable] {
      Similarity.writeIvfPqResidualIndex(bad, "id", "vec", cents,
        resBooks, resPath, sourceTag = "unit")
    }
    assert(!new java.io.File(s"$resPath/idbloom").exists(),
      "an aborted writeIvfPqResidualIndex must leave NO sidecar")
    val mhPath = java.nio.file.Files
      .createTempDirectory("mh_fresh_crash").toString
    Dedup.writeMinhashIndex(Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text"), "doc_id", "text", mhPath)
    assert(new java.io.File(s"$mhPath/idbloom").exists())
    val boomText = udf((i: Long) =>
      if (i < 0) "" else throw new RuntimeException("boom"))
    // over a range, not a local Seq: the optimizer would fold a local
    // relation's projection on the driver — at the build's cache(),
    // before the write starts — and the job would never run
    intercept[Throwable] {
      Dedup.writeMinhashIndex(spark.range(32).select(col("id").as("doc_id"),
        boomText(col("id")).as("text")), "doc_id", "text", mhPath)
    }
    assert(!new java.io.File(s"$mhPath/idbloom").exists(),
      "an aborted writeMinhashIndex must leave NO sidecar")
  }

  test("append duplicate guard coerces the batch id type: a DOUBLE-" +
      "rendered duplicate still refuses, a clean double-typed drop " +
      "appends under the ON-DISK id type (r15 advice)") {
    val base = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val books = Similarity.pqTrain(base, "id", "vec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("pq_idtype").toString
    Similarity.writePqIndex(base, "id", "vec", books, path,
      sourceTag = "unit")
    // DOUBLE 5.0 renders '5.0', on-disk BIGINT renders '5': an uncast
    // bloom probe would always miss and ADMIT the duplicate
    val dupDbl = base.filter(col("id") === 5)
      .select(col("id").cast("double").as("id"), col("vec"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(dupDbl, "id", "vec", path)
    }
    assert(ex.getMessage.contains("shares ids"))
    // a genuinely new double-typed drop appends cleanly — and lands
    // under the artifact's own id type, so codes/ never splits schema
    val newDbl = base.filter(col("id") === 7)
      .select((col("id") + 100).cast("double").as("id"), col("vec"))
    Similarity.appendPqIndex(newDbl, "id", "vec", path)
    val idx = Similarity.readPqIndex(spark, path)
    assert(idx.codes.schema(idx.codes.columns.head).dataType ==
      org.apache.spark.sql.types.LongType,
      "codes/ must keep ONE id type across differently-typed appends")
    assert(idx.codes.count() == 33)
    // the folded bloom remembers the coerced id: re-delivery refuses
    intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(newDbl, "id", "vec", path)
    }
  }

  test("sidecar rebuilds are staged: delete and compact leave a live " +
      "bloom and no __compact/__old leftovers (r15 advice — a torn " +
      "plain-overwrite rebuild could keep its stamps with rows " +
      "missing, manufacturing false negatives)") {
    val base = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 128.0f)))
      .toDF("id", "vec")
    val books = Similarity.pqTrain(base, "id", "vec", m = 2, ksub = 4)
    val path = java.nio.file.Files
      .createTempDirectory("pq_bloom_staged").toString
    Similarity.writePqIndex(base, "id", "vec", books, path,
      sourceTag = "unit")
    def assertClean(when: String): Unit = {
      assert(new java.io.File(s"$path/idbloom").exists(),
        s"$when: live sidecar missing")
      for (sfx <- Seq("__compact", "__old"))
        assert(!new java.io.File(s"$path/idbloom$sfx").exists(),
          s"$when: staged-swap leftover idbloom$sfx")
    }
    assertClean("after fresh write")
    Similarity.deleteFromPqIndex(Seq(3L, 4L).toDF("id"), "id", path)
    assertClean("after delete")
    Similarity.compactPqIndex(spark, path, targetPartitions = 1)
    assertClean("after compact")
    // and the rebuilt sidecar still serves the fast path
    val idx = Similarity.readPqIndex(spark, path)
    val clean = ArtifactMaintenance.requireDisjointIds(spark, idx.codes,
      idx.codes.columns.head, Seq(700L).toDF(idx.codes.columns.head),
      path, "test")
    assert(clean.bloomUsed && !clean.scannedCodes)
  }
}
