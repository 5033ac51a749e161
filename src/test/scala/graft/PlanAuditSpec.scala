package graft

/** Pins the physical-plan shapes the 100 TB design depends on — the
  * properties `.explain` audits found, frozen as assertions so a future
  * change that silently reintroduces a shuffle, drops a broadcast, or
  * loses scan pushdown fails CI instead of a production run.
  *
  * Assertions read the pre-execution plan (AQE's initial plan): hinted
  * broadcasts, pushed filters, and TakeOrderedAndProject are all decided
  * at planning time, so they are stable to assert on.
  */
class PlanAuditSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_star_join broadcasts all three dimension tables") {
    val p = plan("q_star_join")
    assert("BroadcastHashJoin".r.findAllMatchIn(p).length == 3,
      "expected every dim join to be a broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_filter_pred pushes its predicate into the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters: ["))
    assert(!p.contains("PushedFilters: []"),
      "scan should carry at least one pushed filter")
  }

  test("q1_agg prunes the scan to the referenced columns") {
    val p = plan("q1_agg")
    // ReadSchema must not include unreferenced wide columns
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"))
  }

  test("q_topk is TakeOrderedAndProject, not a global sort + limit") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("sim_topk broadcasts the bounded query side") {
    val p = plan("sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"))
  }

  test("sim_topk_ivf keeps the probe join broadcast (no corpus shuffle)") {
    val p = plan("sim_topk_ivf")
    assert(!p.contains("SortMergeJoin"),
      "probe-to-lists join must not sort-merge the corpus side")
  }

  test("ds_upsert anti-joins a BROADCAST key column (corpus unshuffled)") {
    val p = plan("ds_upsert")
    assert(p.contains("BroadcastHashJoin") &&
      p.contains("LeftAnti"),
      "the replace step must be a broadcast anti join on the batch's " +
        "key column — a sort-merge here shuffles the whole corpus")
    assert(!p.contains("SortMergeJoin"))
  }

  test("partial aggregation runs map-side for the flagship agg") {
    val p = plan("q1_agg")
    // two HashAggregate levels: partial then final
    assert("HashAggregate".r.findAllMatchIn(p).length >= 2)
  }

  test("txt_tokens is a pure narrow scan (no exchange except the sort)") {
    val p = plan("txt_tokens")
    assert("Exchange".r.findAllMatchIn(p).length <= 1,
      "per-row text analysis must not shuffle (one range exchange for " +
        "the final orderBy is expected)")
  }

  test("ev_asof is one union + window, never a range join") {
    val p = plan("ev_asof")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "as-of must be the union+window shape, not an O(n x m) theta join")
    assert(p.contains("Window"), "expected the carry-forward window")
    // exchanges: the window's key partitioning, the query's own
    // right-side pre-aggregation (the uniqueness contract), and the
    // final orderBy range partitioning — the OPERATOR contributes one
    assert("Exchange".r.findAllMatchIn(p).length <= 3,
      "as-of itself should shuffle once on the keys:\n" + p)
  }

  test("ev_attrib joins on user_id equi-key, never a nested-loop blowup") {
    // the attribution interval join must plan as an equi-join on
    // user_id with the time bounds as residual predicates — a
    // BroadcastNestedLoop/Cartesian here is the O(|purchases| x
    // |views|) stream-stream trap the watermarked horizon exists to
    // prevent, and its batch collapse must show the same key shape
    val p = plan("ev_attrib")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "attribution must join on the user key:\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "expected an equi-join on user_id:\n" + p)
  }

  test("q_range_join is an equi-join on buckets, no nested-loop blowup") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "range join must probe quantized buckets, not cross-pair")
  }

  test("dd_minhash_pairs never cross-pairs the corpus") {
    val p = plan("dd_minhash_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidate pairs must come from bucket equi-joins only")
  }

  test("sim_topk_lsh probes with broadcast buckets, no corpus shuffle join") {
    val p = plan("sim_topk_lsh")
    assert(p.contains("BroadcastHashJoin"),
      "probe join must broadcast the query-bucket side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("ds_shuffle ranks inside hash buckets, never one global window") {
    val p = plan("ds_shuffle")
    // the data-side window must be partitioned (partition-parallel
    // row_number per bucket); only the 256-row offsets frame may carry a
    // single-partition window
    val unpartitioned = "Window .*\\[__b ASC".r
    assert(p.contains("Window"), p)
    assert("Window \\[[^\\]]*row_number"
      .r.findAllMatchIn(p).forall(m => p.substring(m.start)
        .takeWhile(_ != '\n').contains("windowspecdefinition(__b")),
      "the row_number window must be partitioned by bucket:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "bucket offsets must join broadcast")
  }

  test("dd_spans builds spans from equi-joins, no cross-pairing") {
    val p = plan("dd_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "repeated-gram detection must equi-join on the gram hash")
  }

  test("dd_spans scans + tokenizes the corpus once (cached gram frame)") {
    val p = plan("dd_spans")
    // the gram frame feeds both the doc-frequency aggregate and the join
    // probe: both consumers must read the cached frame, not re-derive it
    // from a second parquet scan — at 100 TB the recompute is a full
    // second tokenization pass over the corpus
    // both consumers must read the cached frame: 2 InMemoryTableScans
    // over ONE InMemoryRelation. The plan STRING re-renders the cached
    // subtree (with its FileScan) under each consumer, so the honest
    // textual check is "no FileScan outside a cached-plan render":
    // every FileScan occurrence pairs with an InMemoryRelation render.
    val consumers = "InMemoryTableScan".r.findAllMatchIn(p).length
    assert(consumers == 2, s"expected both consumers cached, got $consumers:\n" + p)
    assert("FileScan parquet".r.findAllMatchIn(p).length ==
      "InMemoryRelation".r.findAllMatchIn(p).length,
      "a FileScan outside the cached gram frame means a second corpus scan:\n" + p)
  }

  test("ngram stop-shingle prune anti-joins a BROADCAST stop set") {
    // the prune's broadcast side must be the bounded STOP set (df > cap,
    // at most totalShingleRows/cap entries), never the keep set — the
    // keep set is nearly the whole shingle vocabulary and cannot be
    // broadcast at 100 TB (and BENCH_r07 measured the keep-set broadcast
    // losing to the unpruned join it exists to beat)
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val p = graft.operators.Dedup.ngramJaccardPairs(d, "doc_id", "text",
        threshold = 0.8, n = 3, maxDocFreq = Some(50))
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin [^\\n]*LeftAnti".r.findFirstIn(p).isDefined,
      "expected a broadcast LeftAnti join against the stop set:\n" + p)
    assert("SortMergeJoin [^\\n]*LeftAnti".r.findFirstIn(p).isEmpty,
      "the stop-set anti-join must not shuffle the shingle frame:\n" + p)
  }

  test("dd_survivors_best ranks inside clusters, never one global window") {
    val p = plan("dd_survivors_best")
    // keepBest's winner pick is a row_number window partitioned BY
    // CLUSTER — a normal hash shuffle on the cluster key. An
    // unpartitioned window spec here would funnel the whole corpus
    // through one partition at 100 TB
    assert(p.contains("Window"), p)
    assert("Window \\[[^\\]]*row_number".r.findAllMatchIn(p).forall(m =>
      p.substring(m.start).takeWhile(_ != '\n')
        .contains("windowspecdefinition(__kb_cluster")),
      "the winner-pick window must be partitioned by cluster:\n" + p)
  }

  test("ds_curate windows by content hash and never cross-pairs") {
    val p = plan("ds_curate")
    // the exact-dedup stage is the plan's only window family — every one
    // must partition by md5(content), never run globally; and the
    // near-dup/contam stages must stay equi-joins
    // the partition key is projected as _w0 (= md5(content)) — a window
    // with NO partition key would render as windowspecdefinition( with
    // no leading attribute
    val windows = "windowspecdefinition\\(\\w*".r.findAllIn(p).toSeq
    assert(windows.nonEmpty, p)
    assert(windows.forall(_ != "windowspecdefinition("),
      s"every window must carry a partition key, got $windows")
    assert(p.contains("md5(cast("),
      "the window's partition projection must be the content hash:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("mm_dedup decodes each image once: both banding sides and both " +
      "ahash joins read the cached fingerprint frame") {
    val p = plan("mm_dedup")
    // the fingerprint frame (one real PNG decode per doc) feeds the
    // chunk-banding self-join's two sides plus the two ahash re-joins —
    // all four consumers must read the cache, or a 100 TB corpus gets
    // decoded twice-plus (the dd_spans lesson applied to media)
    val consumers = "InMemoryTableScan".r.findAllMatchIn(p).length
    assert(consumers == 4,
      s"expected 4 cached fingerprint consumers, got $consumers:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "image near-dup pairs must come from the chunk equi-join:\n" + p)
  }

  test("mm_video_dedup demuxes each video once and never cross-pairs") {
    val p = plan("mm_video_dedup")
    // the distinct (video, frame-hash) frame is demuxed ONCE — since
    // r16 via localCheckpoint (ContextCleaner-managed, where the old
    // cache() stayed registry-pinned across per-drop calls: r15
    // advice) — and its materialized blocks feed the inverted-index
    // self-join's two sides, the size aggregate consumed on both join
    // legs (n_a and n_b), and (r17, the stop-frame prune) the doc-freq
    // aggregate under each anti-joined leg: SIX scans of the SAME
    // checkpointed RDD, zero re-demux (no PNG decode appears in the
    // pair plan); the pair space must come from the frame-hash
    // equi-join
    val consumers = "Scan ExistingRDD".r.findAllMatchIn(p).length
    assert(consumers == 6,
      s"expected 6 checkpointed frame-hash consumers, got $consumers:\n" + p)
    // the stop-frame prune must be a BROADCAST anti-join (the stop set
    // is bounded by totalFrameRows / cap, never corpus-sized) — one
    // per join leg
    val antis = "BroadcastHashJoin [^\\n]*LeftAnti".r
      .findAllMatchIn(p).length
    assert(antis == 2,
      s"expected 2 broadcast stop-frame anti-joins, got $antis:\n" + p)
    assert(!p.contains("mapPartitions") && !p.contains("aviFrames"),
      "the demux must sit BELOW the checkpoint, not re-run per consumer:\n"
        + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "video near-dup pairs must come from the frame-hash equi-join:\n" + p)
  }

  test("txt_lm_score computes the bigram stream once (three cached reads)") {
    val p = plan("txt_lm_score")
    // bigram counts, context counts, and the scoring probe must all read
    // the CACHED stream — an extra non-cached consumer would be a whole
    // re-tokenization pass over the corpus (the dd_spans lesson)
    val consumers = "InMemoryTableScan".r.findAllMatchIn(p).length
    assert(consumers == 3,
      s"expected 3 cached bigram-stream consumers, got $consumers:\n" + p)
  }

  test("sk_bloom probes a broadcast filter (the semi-join reduction shape)") {
    val p = plan("sk_bloom")
    assert(p.contains("BroadcastHashJoin"),
      "the bloom filter frame must be broadcast to the probe side")
    assert(!p.contains("SortMergeJoin"))
  }

  test("sim_project is a narrow scan (no exchange except the final sort)") {
    val p = plan("sim_project")
    assert("Exchange".r.findAllMatchIn(p).length <= 1,
      "projection is per-row; only the orderBy may exchange:\n" + p)
  }

  test("txt_heavy_hitters filters the corpus through a broadcast " +
      "semi-join BEFORE the count shuffle") {
    val p = plan("txt_heavy_hitters")
    assert("BroadcastHashJoin [^\\n]*LeftSemi".r.findFirstIn(p).isDefined,
      "candidate filter must be a broadcast semi-join:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "final top-k must be TakeOrderedAndProject, not a global sort")
  }

  test("ds_cap_source gets the WindowGroupLimit map-side prune " +
      "(the reason capPerGroup is a plain window, not a salted rollup)") {
    val p = plan("ds_cap_source")
    assert("WindowGroupLimit".r.findAllMatchIn(p).length >= 2,
      "expected partial+final WindowGroupLimit around the shuffle:\n" + p)
  }

  test("dd_semantic's pair join is an equi-join on cid (never a " +
      "cartesian product)") {
    val p = plan("dd_semantic")
    // BroadcastNestedLoopJoin appears only as ivfAssign's deliberate
    // corpus x broadcast(k centroids) assignment cross — bounded by k.
    // The n x n hazard would be a CartesianProduct (both sides large),
    // or the pair self-join losing its cid equi-key.
    assert(!p.contains("CartesianProduct"),
      "no unbounded cartesian anywhere in the semantic-dedup plan:\n" + p)
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[cid".r
      .findFirstIn(p).isDefined,
      "within-cluster pairing must stay an equi-join keyed on cid:\n" + p)
  }

  test("txt_bpe_tokens tokenizes the corpus once (cached occ frame)") {
    val p = plan("txt_bpe_tokens")
    // occ feeds both the final join and the vocab derivation: both
    // consumers must read the CACHED frame (2 InMemoryTableScans over
    // one InMemoryRelation) — an uncached shared subtree means the
    // corpus is exploded and tokenized twice per encode job. Same
    // textual-check shape as the dd_spans pin: every FileScan render
    // must sit inside a cached-plan render.
    val consumers = "InMemoryTableScan".r.findAllMatchIn(p).length
    assert(consumers == 2,
      s"expected both occ consumers cached, got $consumers:\n" + p)
    assert("FileScan parquet".r.findAllMatchIn(p).length ==
      "InMemoryRelation".r.findAllMatchIn(p).length,
      "a FileScan outside the cached occ frame means a second corpus " +
        "tokenization pass:\n" + p)
    // the merge chain itself must be plain replace (codegen'd string
    // builtins), never a UDF in the hot path
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "bpe encode must not route through a UDF:\n" + p)
  }

  test("ds_ingest: keep-first windows by content_hash (never a global " +
      "window) and the exact-token gates stay in the scan stage") {
    val p = plan("ds_ingest")
    // the keep-first cut must be a hash-partitioned window — a window
    // with an empty partition spec serializes the whole drop through
    // one task at 100 TB. In the printed plan the partition columns
    // lead the windowspecdefinition, so the spec must OPEN with
    // content_hash (a global window opens with the ORDER BY columns)
    val spec = "windowspecdefinition\\(([^)]*)\\)".r
      .findFirstMatchIn(p).map(_.group(1))
    assert(spec.exists(_.trim.startsWith("content_hash")),
      s"keep-first window must partition by content_hash, got spec " +
        s"'${spec.getOrElse("<none>")}':\n" + p)
    // the landed-hash probe is a left join keyed on content_hash; no
    // corpus-side cartesian anywhere in the chain
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the ingest chain must stay equi-keyed:\n" + p)
  }

  test("residual IVF-PQ production probe: codes side never shuffles, " +
      "qc and LUT arrive broadcast") {
    // the production shape: both index halves prebuilt (build-once /
    // probe-per-batch), so the QUERY plan must be codes-scan join
    // broadcast(q·centroid terms) join broadcast(LUTs) + one rank
    // window — a sort-merge join anywhere means the m-byte code frame
    // (the whole corpus at 100 TB) is being shuffled per query batch
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Similarity
    val corpus = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 8 + d) % 17).toFloat / 17f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0, Array.fill(8)(0.25)), (1, Array.fill(8)(0.75)))
      .toDF("cid", "centroid")
    val resid = Similarity.ivfResiduals(corpus, "vec_id", "embedding",
      cents)
    val books = Similarity.pqTrain(resid, "vec_id", "rvec",
      m = 2, ksub = 4, iters = 1).localCheckpoint()
    val codes = Similarity.ivfPqResidualEncode(resid, "vec_id", cents,
      books).localCheckpoint()
    val p = Similarity.ivfPqResidualTopK(corpus,
        corpus.filter(col("vec_id") < 4), "vec_id", "embedding",
        cents, books, k = 3, nProbe = 2, prebuiltCodes = Some(codes))
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      "the probe path must never shuffle the code frame:\n" + p)
    assert("BroadcastHashJoin".r.findAllMatchIn(p).length >= 2,
      "q·centroid terms and LUTs must both arrive broadcast:\n" + p)
  }

  test("recall sweeps are one pass: at most half the joins of a probe " +
      "per level") {
    // one probe and one brute pass per nProbe level planned 27 joins
    // (sim_recall_sweep) and 78 (sim_recall_sweep_ivfpq_res); the sweep
    // form scores the deepest level once and slices the rest
    def joins(name: String): Int =
      SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
        .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join
          => j }.size
    val (ivf, res) =
      (joins("sim_recall_sweep"), joins("sim_recall_sweep_ivfpq_res"))
    assert(ivf <= 27 / 2, s"sim_recall_sweep plans $ivf joins")
    assert(res <= 78 / 2, s"sim_recall_sweep_ivfpq_res plans $res joins")
  }

  test("recall sweeps at sf0.001: each level equals its single-level " +
      "probe (IVF, IVF-PQ, residual IVF-PQ)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val e = graft.sources.Tables.load(spark, dir, "embeddings").cache()
    try {
      // the contract's coarse quantizer: label centroids, 6dp
      val cents = Similarity.labelCentroids(e, "label", "embedding")
        .select(col("label").as("cid"),
          transform(col("centroid"), x => round(x, 6)).as("centroid"))
        .localCheckpoint()
      val books = Similarity.pqTrain(e, "vec_id", "embedding", m = 4,
        ksub = 8, iters = 2).localCheckpoint()
      val resBooks = Similarity.pqTrain(
        Similarity.ivfResiduals(e, "vec_id", "embedding", cents),
        "vec_id", "rvec", m = 4, ksub = 8, iters = 2).localCheckpoint()
      val bad = IvfSweepReference.mismatches(e, e.filter(col("vec_id") < 8),
        cents, books, resBooks, Seq(1, 2, 4), k = 5)
      assert(bad.isEmpty, bad.mkString("\n"))
    } finally e.unpersist()
  }

  test("ANN corpus split width follows the session, not a hardcoded 32") {
    // Local default: the test session runs local[4] ⇒ width 4, so the
    // corpus scan is never capped at fewer tasks than cores — and, on a
    // 1,000-core cluster, never at the local rig's 32.
    // An operator pins the width with Spark's own
    // spark.default.parallelism, which sets defaultParallelism.
    assert(graft.queries.Pipeline.lshCorpusParts(spark) ==
      spark.sparkContext.defaultParallelism)
  }
}
