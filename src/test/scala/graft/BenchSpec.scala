package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench harness plumbing: JSON rendering that survives hostile locales,
  * the child-JVM TSV result protocol, and fork preconditions. The round-5
  * verdict showed the bench ARTIFACT can invalidate a whole round of perf
  * conclusions, so its machinery is spec'd like an operator. */
class BenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("compact line is locale-proof: comma-decimal locale still emits JSON") {
    val dflt = Locale.getDefault
    try {
      Locale.setDefault(Locale.FRANCE) // 1,235 instead of 1.235 if naive
      val line = Bench.renderCompact(
        Seq(Bench.QTime("q1_agg", 1.23456, 1.3, None),
          Bench.QTime("zz_other", 2.0, 2.0, None)),
        "sf", "4", 1)
      val tree = mapper.readTree(line) // throws on 1,235
      assert(math.abs(tree.get("value").asDouble() - 3.235) < 1e-9)
      assert(math.abs(tree.get("queries").get("q1_agg").asDouble()
        - 1.235) < 1e-9)
    } finally Locale.setDefault(dflt)
  }

  test("full line is locale-proof and parseable too") {
    val dflt = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      val line = Bench.renderFull(
        Seq(Bench.QTime("a_q", 0.123456789, 0.2, None),
          Bench.QTime("b_q", 1.0, 1.0, Some("boom"))),
        "sf", "32", 3)
      val tree = mapper.readTree(line)
      assert(tree.get("queries").get("a_q").asDouble() > 0.123)
      assert(tree.get("queries").get("b_q").asText() == "boom")
      assert(tree.get("n_err").asInt() == 1)
    } finally Locale.setDefault(dflt)
  }

  test("compact line records the execution mode and the full-dump path") {
    val line = Bench.renderCompact(
      Seq(Bench.QTime("q1_agg", 1.0, 1.0, None)), "sf", "4",
      1, mode = "fork_per_family", outPath = "custom_out.json")
    val tree = mapper.readTree(line)
    assert(tree.get("mode").asText() == "fork_per_family")
    assert(tree.get("full").asText() == "custom_out.json")
  }

  test("TSV child protocol round-trips, sanitizing tabs/newlines in errors") {
    val results = Seq(
      Bench.QTime("q_ok", 1.5, 1.8, None, Vector(1.8, 1.5, 1.6),
        Vector(12L, 0L, 3L)),
      Bench.QTime("q_err", 0.25, 0.25,
        Some("Spark\tException:\nline1\rline2")))
    val parsed = Bench.parseTsv(Bench.renderTsv(results))
    assert(parsed.map(r => (r.name, r.secs, r.maxSecs)) ==
      Seq(("q_ok", 1.5, 1.8), ("q_err", 0.25, 0.25)))
    assert(parsed(0).err.isEmpty)
    // per-run samples and GC deltas survive the child protocol — the
    // parent renders outlier_runs from THESE, so a silent drop here
    // would blind the round-11 self-diagnosis
    assert(parsed(0).runSecs == Seq(1.8, 1.5, 1.6))
    assert(parsed(0).gcMs == Seq(12L, 0L, 3L))
    assert(parsed(1).runSecs.isEmpty && parsed(1).gcMs.isEmpty)
    assert(parsed(1).err.contains("Spark Exception: line1 line2"))
  }

  test("malformed TSV fails loudly instead of merging garbage") {
    intercept[IllegalArgumentException] {
      Bench.parseTsv("q_torn\t1.5\t1.6\n") // missing columns
    }
    intercept[IllegalArgumentException] {
      // the pre-r11 4-column shape: a stale child must fail loudly,
      // not parse into empty per-run data
      Bench.parseTsv("q_old\t1.5\t1.6\terr\n")
    }
    intercept[IllegalArgumentException] {
      // the pre-r12 6-column shape (no cold-run columns): same rule
      Bench.parseTsv("q_r11\t1.5\t1.6\terr\t1.6,1.5\t0,0\n")
    }
  }

  test("cold-absorbed runs round-trip the TSV protocol and land in the " +
      "artifact as cold_warmup_secs, not in the steady record") {
    val results = Seq(
      // run 0 was reclassified: steady [1.2, 1.1, 1.15], cold [6.6]
      Bench.QTime("bench_lsh_like", 1.1, 1.2, None,
        Vector(1.2, 1.1, 1.15), Vector(0L, 0L, 0L),
        Vector(6.6), Vector(198L)),
      Bench.QTime("q_never_cold", 1.0, 1.1, None,
        Vector(1.1, 1.0), Vector(0L, 0L)))
    val parsed = Bench.parseTsv(Bench.renderTsv(results))
    assert(parsed(0).coldSecs == Seq(6.6) &&
      parsed(0).coldGcMs == Seq(198L))
    // retry_samples rides the 9th TSV column; an 8-column pre-r15
    // child line still parses (count defaults to 0)
    assert(Bench.parseTsv(Bench.renderTsv(Seq(Bench.QTime(
      "q_retried", 1.0, 4.0, None, Vector(1.0, 4.0, 1.1, 1.0, 1.0),
      retrySamples = 2)))).head.retrySamples == 2)
    assert(Bench.parseTsv(
      "q_old8\t1.5\t1.6\t\t1.6,1.5\t0,0\t\t\n").head.retrySamples == 0)
    assert(parsed(1).coldSecs.isEmpty && parsed(1).coldGcMs.isEmpty)
    val full = mapper.readTree(Bench.renderFull(parsed, "sf", "32", 3))
    assert(full.get("cold_warmup_secs").get("bench_lsh_like")
      .get(0).asDouble() == 6.6)
    assert(full.get("cold_warmup_gc_ms").get("bench_lsh_like")
      .get(0).asLong() == 198L)
    assert(!full.get("cold_warmup_secs").has("q_never_cold"))
    // the steady record excludes the cold run, so the entry is NOT a
    // flagged outlier (the r11 defect this machinery exists to fix)
    assert(full.get("n_outliers").asInt() == 0)
    // an entry with no cold runs in the whole set omits the field
    val none = mapper.readTree(Bench.renderFull(
      Seq(Bench.QTime("q_a", 1.0, 1.0, None, Vector(1.0), Vector(0L))),
      "sf", "32", 3))
    assert(!none.has("cold_warmup_secs"))
  }

  test("cold-head signature matches the r11 outlier vectors and rejects " +
      "mid-vector stragglers") {
    // the six r11 flagged entries all degraded on run 0 — each leading
    // run matches, and after absorbing it (and for cc450k_driver the
    // second) the remainder is steady
    assert(Bench.isColdHead(Vector(6.558, 1.199, 1.154, 1.230, 1.197)))
    assert(Bench.isColdHead(Vector(33.207, 11.843, 10.613, 9.818, 10.209)))
    // cc450k_driver needed TWO absorptions: runs 0 and 1 both cold
    assert(Bench.isColdHead(Vector(8.027, 6.886, 2.056, 2.570, 2.094)))
    assert(Bench.isColdHead(Vector(6.886, 2.056, 2.570, 2.094)))
    assert(!Bench.isColdHead(Vector(2.056, 2.570, 2.094)))
    // a mid-vector balloon is an environment straggler, NOT cold —
    // stays in the steady record and gets flagged as outlier_runs
    assert(!Bench.isColdHead(Vector(2.0, 8.0, 2.1)))
    // a tight vector never absorbs
    assert(!Bench.isColdHead(Vector(1.2, 1.0, 1.1)))
    // too few samples to judge a floor: never absorbs
    assert(!Bench.isColdHead(Vector(9.0, 1.0)))
  }

  test("full artifact names its headline entries explicitly") {
    val results = Seq(
      Bench.QTime("q1_agg", 1.0, 1.0, None, Vector(1.0), Vector(0L)),
      Bench.QTime("zz_rollup_only", 2.0, 2.0, None, Vector(2.0),
        Vector(0L)))
    val full = mapper.readTree(Bench.renderFull(results, "sf", "32", 3))
    val h = full.get("headline")
    assert(h != null && h.isArray)
    val names = (0 until h.size).map(h.get(_).asText())
    // membership = intersection of the headline list with what ran:
    // q1_agg is a headline entry, the rollup-only name is not
    assert(names.contains("q1_agg") && !names.contains("zz_rollup_only"))
  }

  test("outlier entries are flagged with the degraded run named; " +
      "certification entries and tight spreads are not") {
    val results = Seq(
      // 4x spread, run 1 (0-indexed) is the balloon, with the GC bill;
      // the straggler retry appended 2 samples (r15: an artifact fact)
      Bench.QTime("dd_wide", 2.0, 8.0, None, Vector(2.0, 8.0, 2.1),
        Vector(5L, 24000L, 7L), retrySamples = 2),
      Bench.QTime("q_tight", 1.0, 1.2, None, Vector(1.2, 1.0, 1.1),
        Vector(0L, 0L, 0L)),
      // certification entries run once — a "spread" there is meaningless
      Bench.QTime("bench_cc_guard", 1.0, 9.0, None, Vector(9.0),
        Vector(0L)))
    val full = mapper.readTree(Bench.renderFull(results, "sf", "32", 3))
    val o = full.get("outlier_runs")
    assert(o != null && o.has("dd_wide") && !o.has("q_tight") &&
      !o.has("bench_cc_guard"))
    assert(o.get("dd_wide").get("degraded_run").asInt() == 1)
    assert(o.get("dd_wide").get("gc_ms").get(1).asLong() == 24000L)
    assert(o.get("dd_wide").get("spread_x").asDouble() == 4.0)
    // the retry is visible, not inferred from a longer runs vector
    assert(o.get("dd_wide").get("retry_samples").asInt() == 2)
    assert(full.get("n_outliers").asInt() == 1)
    // every timed entry's per-run record lands in the artifact
    assert(full.get("runs_secs").get("q_tight").get(0).asDouble() == 1.2)
    assert(full.get("runs_gc_ms").get("dd_wide").get(1).asLong() == 24000L)
    // the compact line carries the count (budget: names live in full)
    val compact = mapper.readTree(
      Bench.renderCompact(results, "sf", "32", 3))
    assert(compact.get("n_outliers").asInt() == 1)
  }

  test("fork classpath is reconstructible in this environment") {
    // the forked-bench design depends on rebuilding a child classpath
    // from the classloader chain / java.class.path; if this ever comes
    // back empty the bench silently degrades to shared-session numbers —
    // surface that here instead
    val cp = Bench.forkClasspath()
    assert(cp.nonEmpty)
    val entries = cp.split(java.io.File.pathSeparator)
    assert(entries.exists(e => e.contains("classes") || e.endsWith(".jar")),
      s"suspicious classpath: ${entries.take(5).mkString(";")}")
  }

  test("childJvmArgs normalizes pair-style --add-opens and keeps heap flags") {
    val args = Bench.childJvmArgs(Seq(
      "--add-opens", "java.base/java.lang=ALL-UNNAMED", // sbt pair style
      "--add-opens=java.base/java.nio=ALL-UNNAMED",     // = style
      "-Xmx8g", "-Dspark.ui.enabled=false", "-javaagent:x.jar"))
    // pair form is normalized to one flag=value token (a dangling
    // --add-opens kills the JVM; a separate-token pair is distinct-fragile)
    assert(args.contains("--add-opens=java.base/java.lang=ALL-UNNAMED"))
    assert(!args.contains("--add-opens"))
    assert(args.contains("--add-opens=java.base/java.nio=ALL-UNNAMED"))
    assert(args.contains("-Xmx8g"))
    // unrelated -D / agent flags are not propagated
    assert(!args.exists(_.startsWith("-D")))
    assert(!args.exists(_.startsWith("-javaagent")))
    // the Spark JDK-17 module set is always present
    assert(args.exists(_.contains("sun.nio.ch=ALL-UNNAMED")))
  }

  test("two separate-token --add-opens pairs both survive the dedup") {
    // regression: distinct on the flat argv used to collapse the repeated
    // `--add-opens` token, leaving the second module value as a bare arg
    // the child java launcher parsed as the MAIN CLASS — every child died
    // and the bench silently fell back to shared-session numbers
    val args = Bench.childJvmArgs(Seq(
      "--add-opens", "java.base/java.lang=ALL-UNNAMED",
      "--add-opens", "java.base/java.util=ALL-UNNAMED"))
    assert(args.contains("--add-opens=java.base/java.lang=ALL-UNNAMED"))
    assert(args.contains("--add-opens=java.base/java.util=ALL-UNNAMED"))
    // nothing dangling: every surviving token is flag-shaped
    assert(args.forall(a => a.startsWith("-")))
  }

  test("full render carries the [min,max] spread per successful entry") {
    val line = Bench.renderFull(
      Seq(Bench.QTime("a_q", 1.5, 1.9, None),
        Bench.QTime("b_q", 1.0, 1.0, Some("boom"))),
      "sf", "32", 3)
    val tree = mapper.readTree(line)
    val sp = tree.get("spread")
    assert(sp.get("a_q").get(0).asDouble() == 1.5)
    assert(sp.get("a_q").get(1).asDouble() == 1.9)
    // an errored entry has no meaningful spread
    assert(sp.get("b_q") == null)
  }

  test("crossovers field is stamped only when a cohort actually ran") {
    // two contenders of one cohort present -> the interleaved
    // methodology ran and the artifact says so
    val cohortRun = Bench.renderFull(
      Seq(Bench.QTime("bench_dd12k_ngram", 3.0, 3.2, None),
        Bench.QTime("bench_dd12k_minhash", 2.8, 2.9, None)),
      "sf", "32", 3)
    assert(mapper.readTree(cohortRun)
      .get("crossovers").asText() == "interleaved")
    // a lone cohort member (BENCH_ONLY slice) or non-cohort queries ran
    // plain sequential min-of-N — stamping "interleaved" would describe
    // a methodology that never ran
    val solo = Bench.renderFull(
      Seq(Bench.QTime("bench_dd12k_ngram", 3.0, 3.2, None),
        Bench.QTime("q1_agg", 1.0, 1.0, None)),
      "sf", "32", 3)
    assert(mapper.readTree(solo).get("crossovers") == null)
  }

  test("fast-runs fields describe only a methodology that actually ran") {
    // the sub-0.5s top-up to min-of-5 fires only when runs < 5 AND some
    // timed entry sits under the cutoff — with runs >= 5, or a slice
    // where every entry is slow (or the fast one errored), the fields
    // would describe a regime that never applied
    val topped = Bench.renderCompact(
      Seq(Bench.QTime("q1_agg", 0.2, 0.3, None)), "sf", "4", 3)
    assert(topped.contains("\"runs_fast\":5"))
    val allSlow = Bench.renderCompact(
      Seq(Bench.QTime("q1_agg", 1.0, 1.0, None)), "sf", "4", 3)
    assert(!allSlow.contains("runs_fast"))
    val fastButErred = Bench.renderCompact(
      Seq(Bench.QTime("q1_agg", 0.0, 0.0, Some("boom"))), "sf", "4", 3)
    assert(!fastButErred.contains("runs_fast"))
    val flat = Bench.renderCompact(
      Seq(Bench.QTime("q1_agg", 0.2, 0.3, None)), "sf", "4", 5)
    assert(!flat.contains("runs_fast"))
    assert(mapper.readTree(flat).get("runs").asInt() == 5)
  }

  test("both artifact forms declare the timing-methodology baseline break") {
    // r7->r8 minima diverged ~2x on untouched queries purely from the
    // interleaving change; the artifact must self-describe that pre-r10
    // numbers are a different regime rather than let a reader diff them
    val compact = mapper.readTree(Bench.renderCompact(
      Seq(Bench.QTime("q1_agg", 1.0, 1.0, None)), "sf", "4", 3))
    val full = mapper.readTree(Bench.renderFull(
      Seq(Bench.QTime("q1_agg", 1.0, 1.0, None)), "sf", "4", 3))
    // the full artifact self-describes the whole method list; the
    // budget-pinned compact line names the regime rounds and defers
    // (r14: the list outgrew the <1800-char stdout window)
    assert(full.get("baseline_break").asText().contains("warmup"))
    val cbrk = compact.get("baseline_break")
    assert(cbrk != null && cbrk.asText().contains("r10-16") &&
      cbrk.asText().contains("full"))
    // with the warmup disabled, the marker must describe THAT run, not
    // the methodology that never executed (r9 advice)
    val offFull = mapper.readTree(Bench.renderFull(
      Seq(Bench.QTime("q1_agg", 1.0, 1.0, None)), "sf", "4", 3,
      warmupOn = false))
    assert(offFull.get("baseline_break").asText().contains("DISABLED"))
    val offCompact = mapper.readTree(Bench.renderCompact(
      Seq(Bench.QTime("q1_agg", 1.0, 1.0, None)), "sf", "4", 3,
      warmupOn = false))
    assert(offCompact.get("baseline_break").asText().contains("off"))
  }

  test("crossover cohorts name real bench entries, each in one cohort") {
    val all = Bench.crossoverCohorts.flatten
    assert(all.distinct == all, "a query may belong to only one cohort")
    assert(all.toSet.subsetOf(Bench.allBenchQueries.keySet),
      "cohorts must reference existing queries — a rename here silently " +
        "de-interleaves the rig")
    // every cohort is a real A/B comparison
    assert(Bench.crossoverCohorts.forall(_.size >= 2))
    // interleaving happens inside ONE child JVM, and children are cut by
    // name-prefix family — a cohort spanning families would silently run
    // its members in different processes, never interleaved
    assert(Bench.crossoverCohorts.forall(c =>
      c.map(_.takeWhile(_ != '_')).distinct.size == 1),
      "cohort members must share a fork family")
    // ...and the chunking that recycles child JVMs must keep each cohort
    // whole: a split cohort would run its contenders in different
    // processes — exactly the same-code cross-fork divergence the
    // interleaving exists to prevent
    val chunkOf = Bench.forkChunks(Bench.allBenchQueries.keys.toSeq.sorted)
      .flatMap { case (chunk, qs) => qs.map(_ -> chunk) }.toMap
    for (c <- Bench.crossoverCohorts)
      assert(c.map(chunkOf).distinct.size == 1,
        s"cohort $c split across chunks ${c.map(chunkOf).distinct}")
  }

  test("forkChunks: bounded child JVMs, nothing lost, nothing duplicated") {
    val names = Bench.allBenchQueries.keys.toSeq.sorted
    val chunks = Bench.forkChunks(names, maxPer = 6)
    // partition: every query in exactly one chunk
    val flat = chunks.flatMap(_._2)
    assert(flat.sorted == names.sorted)
    assert(flat.distinct.size == flat.size)
    // bound: no chunk exceeds the cap (no current cohort is wider than
    // 6), EXCEPT families with an explicit override — x_* shares one
    // child JVM (r17: ~30 sub-second SQL queries were paying 5 Spark
    // spin-ups; the pollution regime the cap defends against comes
    // from heavy operator families, not sub-second SQL)
    for ((chunk, qs) <- chunks) {
      val fam = Bench.famOf(qs.head)
      val cap = Bench.famChunkOverride.getOrElse(fam, 6)
      assert(qs.size <= cap, s"chunk $chunk has ${qs.size} queries")
    }
    // the light families ride in few chunks (r17: each extra chunk is
    // ~20 s of Spark spin-up for sub-second queries)
    assert(chunks.count(_._1.startsWith("x")) == 1,
      "x_* must share a single child JVM")
    assert(chunks.count(c => c._2.head.startsWith("mm_")) == 1,
      "mm_* must share a single child JVM")
    assert(chunks.count(c => c._2.head.startsWith("q_")) <= 2,
      "q_* must fit two child JVMs")
    assert(chunks.count(c => c._2.head.startsWith("txt_")) <= 2,
      "txt_* must fit two child JVMs")
    // chunk names are unique (they key log files and telemetry)
    assert(chunks.map(_._1).distinct.size == chunks.size)
    // chunks never span families (rigs and tables cluster by prefix;
    // the flagship q1_agg rides with the q family it belongs to — r17)
    for ((chunk, qs) <- chunks)
      assert(qs.map(Bench.famOf).distinct.size == 1,
        s"chunk $chunk spans families: $qs")
    assert(chunks.exists(_._2.contains("q1_agg")) &&
      !chunks.exists(c => c._2 == Seq("q1_agg")),
      "q1_agg must share the q family's child JVM, not its own")
    // claim-operand atoms pack before claim-free ones INSIDE each
    // family (r17): in the bench_* family this keeps the layout/encode
    // entries behind every claim operand, and chunk membership is each
    // entry's JVM-lifetime context. Property: across the family's
    // chunk sequence, once a chunk carries no claim operand, no later
    // chunk carries one (one boundary chunk may mix both bands).
    val claimOps = Bench.claimSpecs.flatMap(c => Seq(c._2, c._3)).toSet
    val rigFlags = chunks.filter(_._2.head.startsWith("bench_"))
      .map(_._2.exists(claimOps))
    assert(rigFlags.contains(true) && rigFlags.contains(false),
      "expected both claim-bearing and claim-free rig chunks")
    val firstFreeRig = rigFlags.indexOf(false)
    assert(rigFlags.drop(firstFreeRig).forall(!_),
      s"claim-free rig chunks must form the family tail: $rigFlags")
    // round-9 regression target: the dd family (16 contract queries) must
    // no longer ride in one JVM
    assert(chunks.count(_._1.startsWith("dd")) >= 3)
    // an atom wider than the cap still forms a (lone) chunk
    val tiny = Bench.forkChunks(
      Seq("bench_lsh50k_brute", "bench_lsh50k_lsh", "bench_lsh50k_ivf",
        "bench_lsh50k_q8"), maxPer = 2)
    assert(tiny.size == 1 && tiny.head._2.size == 4,
      "a cohort must never be split even when it exceeds maxPer")
  }

  test("claims_unevaluated: a claim whose operands were skipped is " +
      "NAMED in the artifact, not silently omitted (r16 verdict #7)") {
    // only one claim's operands present -> every other claim is named
    val r = Seq(
      Bench.QTime("bench_dd50k_ngram_pruned", 1.0, 1.1, None),
      Bench.QTime("bench_dd50k_ngram", 2.0, 2.2, None))
    val full = mapper.readTree(Bench.renderFull(r, "sf", "32", 3))
    val un = full.get("claims_unevaluated")
    assert(un != null &&
      un.size() == Bench.claimSpecs.size - 1,
      "every claim with a missing operand must be named")
    import scala.jdk.CollectionConverters._
    val names = un.elements().asScala.map(_.asText()).toSet
    assert(!names.contains("prune_beats_naive_dd50k"))
    assert(names.contains("cc_skew_within_2x") &&
      names.contains("precontract_tames_skew_cc600k"),
      "the r15-failed CC-skew claims must never vanish unevaluated")
    // an ERRORED operand also unevaluates its claims
    val withErr = r :+ Bench.QTime("bench_dd50k_minhash", 0.0, 0.0,
      Some("boom"))
    val full2 = mapper.readTree(Bench.renderFull(withErr, "sf", "32", 3))
    val names2 = full2.get("claims_unevaluated").elements().asScala
      .map(_.asText()).toSet
    assert(names2.contains("minhash_beats_naive_dd50k"))
    // compact line carries the COUNT only (budget-pinned)
    val compact = mapper.readTree(Bench.renderCompact(r, "sf", "32", 3))
    assert(compact.get("n_claims_unevaluated").asInt() ==
      Bench.claimSpecs.size - 1)
    // a full result set carries neither field
    val allOps = Bench.claimSpecs.flatMap { case (_, l, rr, _) =>
      Seq(l, rr) }.distinct.map(n => Bench.QTime(n, 1.0, 1.0, None))
    assert(mapper.readTree(Bench.renderFull(allOps, "sf", "32", 3))
      .get("claims_unevaluated") == null)
  }

  test("GC-storm retry: fires when a steady run spends >20% of its " +
      "wall in GC, policy stamped into the artifact (r16 verdict #8)") {
    // 39.7 s sample carrying 8.7 s of GC (the r16 dd_incremental_idx
    // case) crosses the 20% line; the same sample at 5% does not
    assert(Bench.gcStorm(Seq(39.7), Seq(8700L)))
    assert(!Bench.gcStorm(Seq(39.7), Seq(1900L)))
    // per-run, not aggregate: a fast run with a tiny absolute GC bill
    // that IS its wall still flags
    assert(Bench.gcStorm(Seq(2.0, 0.5), Seq(0L, 150L)))
    assert(!Bench.gcStorm(Nil, Nil))
    // the policy is an artifact fact
    val full = mapper.readTree(Bench.renderFull(
      Seq(Bench.QTime("q_ok", 1.0, 1.2, None)), "sf", "32", 3))
    assert(full.get("gc_retry_fraction").asDouble() ==
      Bench.GcRetryFraction)
  }

  test("fork telemetry: renders as a TSV comment, round-trips, never breaks data") {
    val stats = Bench.ForkStats(gcMs = 1234, gcCount = 56, heapPeakMb = 4096)
    val text = Bench.renderTsv(Seq(Bench.QTime("q_ok", 1.5, 1.8, None))) +
      Bench.renderTelemetryLine(stats) + "\n"
    // data parse skips the comment line
    assert(Bench.parseTsv(text).map(_.name) == Seq("q_ok"))
    // telemetry parse finds it
    assert(Bench.parseTelemetry(text).contains(stats))
    // absent telemetry (old child) degrades to None, not an error
    assert(Bench.parseTelemetry("q_ok\t1.5\t1.8\t\n").isEmpty)
    // and a mangled line degrades to None too
    assert(Bench.parseTelemetry("#telemetry\tgc_ms=oops\n").isEmpty)
  }

  test("full render carries per-fork telemetry when present") {
    val line = Bench.renderFull(
      Seq(Bench.QTime("q1_agg", 1.0, 1.0, None)), "sf", "32", 3,
      forks = Map(
        "dd_1" -> Bench.ForkStats(100, 5, 2048),
        "q" -> Bench.ForkStats(200, 9, 1024)))
    val tree = mapper.readTree(line)
    val ft = tree.get("fork_telemetry")
    assert(ft.get("dd_1").get("gc_ms").asLong() == 100)
    assert(ft.get("dd_1").get("heap_peak_mb").asLong() == 2048)
    assert(ft.get("q").get("gc_count").asLong() == 9)
    // absent when nothing was recorded (never an empty lying object)
    val bare = mapper.readTree(Bench.renderFull(
      Seq(Bench.QTime("q1_agg", 1.0, 1.0, None)), "sf", "32", 3))
    assert(bare.get("fork_telemetry") == null)
  }

  test("certification-only entries are flagged and exempt from fast-runs") {
    // the set names real entries (a rename would silently re-time them
    // min-of-N)
    assert(Bench.certificationOnly.subsetOf(Bench.allBenchQueries.keySet))
    // no certification entry sits in a cohort (cohorts interleave
    // min-of-N; certification runs once)
    assert(Bench.certificationOnly
      .intersect(Bench.crossoverCohorts.flatten.toSet).isEmpty)
    val r = Seq(Bench.QTime("ds_curate_staged", 16.0, 16.0, None),
      Bench.QTime("bench_cc_guard", 30.0, 30.0, None),
      Bench.QTime("q1_agg", 1.0, 1.1, None))
    val full = mapper.readTree(Bench.renderFull(r, "sf", "32", 3))
    val cert = full.get("certification_only")
    assert(cert != null && cert.size() == 2)
    assert(cert.get(0).asText() == "bench_cc_guard")
    assert(cert.get(1).asText() == "ds_curate_staged")
    // certification seconds are excluded from the headline total
    // (pre-r10 guards hid their cost in memoized warmups — folding the
    // now-honest one-shot cost into `value` would fake a regression)
    // and reported separately
    assert(math.abs(full.get("value").asDouble() - 1.0) < 1e-9)
    assert(math.abs(full.get("cert_secs").asDouble() - 46.0) < 1e-9)
    val compact = mapper.readTree(Bench.renderCompact(r, "sf", "32", 3))
    assert(compact.get("n_cert").asInt() == 2)
    assert(math.abs(compact.get("cert_secs").asDouble() - 46.0) < 1e-9)
    assert(math.abs(compact.get("value").asDouble() - 1.0) < 1e-9)
    // a certification entry under the 0.5 s cutoff must NOT stamp the
    // runs_fast methodology — it is exempt from the top-up
    val fastCert = Bench.renderCompact(
      Seq(Bench.QTime("bench_lsh50k_recall", 0.1, 0.1, None)),
      "sf", "32", 3)
    assert(!fastCert.contains("runs_fast"))
    // no flag fields at all when no certification entry ran
    val none = mapper.readTree(Bench.renderFull(
      Seq(Bench.QTime("q1_agg", 1.0, 1.1, None)), "sf", "32", 3))
    assert(none.get("certification_only") == null)
  }

  test("claims: computed conclusions land in the artifact, flips counted") {
    // every claim operand is a real timeable entry — a rename here would
    // silently drop the claim from the artifact (omitted, not false)
    val ops = Bench.claimSpecs.flatMap { case (_, l, r, _) => Seq(l, r) }
    assert(ops.toSet.subsetOf(Bench.allBenchQueries.keySet))
    val names = Bench.claimSpecs.map(_._1)
    assert(names.distinct == names)

    def qt(n: String, s: Double) = Bench.QTime(n, s, s, None)
    // a holding claim and a flipped one
    val r = Seq(qt("bench_dd50k_ngram_pruned", 10.0),
      qt("bench_dd50k_ngram", 20.0),
      qt("bench_lsh50k_lsh", 2.0), qt("bench_lsh50k_brute", 1.0))
    // compact line: evaluated count + failed names only (stdout-tail
    // budget); the boolean-per-claim map is the full render's job
    val json = mapper.readTree(
      Bench.renderCompact(r, "sf", "4", 3))
    assert(json.get("n_claims").asInt() == 2)
    assert(json.get("claims_failed").size() == 1)
    assert(json.get("claims_failed").get(0).asText() == "lsh_brute_near_parity_50k")
    val full = mapper.readTree(Bench.renderFull(r, "sf", "4", 3))
    assert(full.get("claims").get("prune_beats_naive_dd50k").asBoolean())
    assert(!full.get("claims").get("lsh_brute_near_parity_50k").asBoolean())
    assert(full.get("n_claims_failed").asInt() == 1)
    // factor-based claim: skew within 2x of uniform
    val skew = mapper.readTree(Bench.renderFull(
      Seq(qt("bench_cc600k_skew", 30.7), qt("bench_cc600k_dist", 22.7)),
      "sf", "4", 3))
    assert(skew.get("claims").get("cc_skew_within_2x").asBoolean())
    assert(skew.get("n_claims_failed").asInt() == 0)
    // overflow past the 8-name cap: the array carries REAL claim names
    // only, the remainder rides in the numeric claims_failed_more field
    // (r14 advice: a synthetic "+N more" element looked like a name)
    val allFail = Bench.claimSpecs.flatMap { case (_, l, rr, _) =>
      Seq(qt(l, 1000.0), qt(rr, 0.001)) }.distinctBy(_.name)
    val vals = allFail.map(q => q.name -> q.secs).toMap
    val expFailed = Bench.claimSpecs.collect {
      case (n, l, rr, f) if !(vals(l) < f * vals(rr)) => n }
    // the construction must genuinely exercise the overflow branch —
    // if claimSpecs ever shrinks below 9 failable claims, revisit this
    assert(expFailed.size > 8)
    val flood = mapper.readTree(Bench.renderCompact(allFail, "sf", "4", 3))
    assert(flood.get("n_claims").asInt() == Bench.claimSpecs.size)
    val shownNames = (0 until flood.get("claims_failed").size())
      .map(flood.get("claims_failed").get(_).asText())
    assert(shownNames == expFailed.take(8))
    assert(shownNames.forall(names.contains))
    assert(flood.get("claims_failed_more").asInt() == expFailed.size - 8)
    // missing or errored operands: claim omitted entirely, never guessed
    val errd = Seq(qt("bench_dd50k_ngram_pruned", 10.0),
      Bench.QTime("bench_dd50k_ngram", 0.0, 0.0, Some("boom")))
    val gone = mapper.readTree(Bench.renderCompact(errd, "sf", "4", 3))
    assert(gone.get("n_claims") == null && gone.get("claims_failed") == null)
    val goneFull = mapper.readTree(Bench.renderFull(errd, "sf", "4", 3))
    assert(goneFull.get("claims") == null &&
      goneFull.get("n_claims_failed") == null)
  }

  test("bench-only extras exist and are disjoint from the driver contract") {
    val extras = Bench.extraQueries.keySet
    assert(extras == Set(
      // ANN crossover rig: 6 contenders + recall guard + PQ footprint
      "bench_lsh50k_brute", "bench_lsh50k_lsh", "bench_lsh50k_ivf",
      "bench_lsh50k_q8", "bench_lsh50k_pq", "bench_lsh50k_ivfpq",
      "bench_lsh50k_recall", "bench_lsh50k_pq_guard",
      // CC crossover rig: driver vs distributed + equality/round guard,
      // plus the star-heavy skew twin of the 2M-edge graph
      "bench_cc450k_driver", "bench_cc450k_dist", "bench_cc600k_dist",
      "bench_cc600k_skew", "bench_cc600k_skew_nopre", "bench_cc_guard",
      // dedup crossover rig: naive/pruned exact vs minhash + recall
      // guard, plus quarter-size twins for the scaling-exponent ratio
      "bench_dd50k_ngram", "bench_dd50k_ngram_pruned",
      "bench_dd50k_minhash", "bench_dd50k_recall",
      "bench_dd12k_ngram", "bench_dd12k_minhash",
      // coarse-quantizer training crossover: full-corpus kmeans
      // iterations vs the md5-rank-sampled trainer, same final assign,
      // plus the deterministic inertia-parity quality guard
      "bench_km50k_full", "bench_km50k_sampled", "bench_km50k_guard",
      // training-only scale ladder at 50k and 200k vectors (the
      // dd12k/dd50k pattern applied to coarse-quantizer training)
      "bench_km50k_full_train", "bench_km50k_sampled_train",
      "bench_km200k_full_train", "bench_km200k_sampled_train",
      // incremental dedup crossover: inline corpus recompute vs the
      // contract query's materialized-index probe path
      "bench_ddinc_inline", "bench_ddinc_probe",
      // as-of crossover: union+window vs join+argmax + equality guard
      "bench_asof_union", "bench_asof_argmax", "bench_asof_guard",
      // range-join crossover: bucketed equi-join vs BETWEEN theta join
      "bench_rj_bucketed", "bench_rj_theta", "bench_rj_guard",
      // skew-join crossover: plain vs salted under AQE-off conf
      "bench_skew_plain", "bench_skew_salted", "bench_skew_guard",
      // heavy-hitters crossover: full-vocab shuffle vs sample-and-verify
      // + the exactness/shuffle-volume guard
      "bench_hh_full", "bench_hh_sampled", "bench_hh_guard",
      // data-layout crossover: arrival-order vs range-clustered parquet
      // under the same selective scan + equality/pushdown guard
      "bench_layout_plain", "bench_layout_clustered",
      "bench_layout_guard",
      // BPE pair-counting crossover: per-occurrence vs word-dict +
      // pair-table-equality / map-volume guard
      "bench_bpe_naive", "bench_bpe_dict", "bench_bpe_guard",
      // 2-D layout crossover: arrival vs x-clustered vs z-ordered under
      // a two-predicate box scan + equality/pushdown/decoded-rows guard
      "bench_layout2d_plain", "bench_layout2d_xclust",
      "bench_layout2d_zorder", "bench_layout2d_guard",
      // r12: decoded-rows certification for the k=3 interleave (the
      // 2-D copy is blind in z the way x-clustering is blind in y)
      "bench_layout3d_guard",
      // skewed 2-D layout crossover: proportional scaling vs rank
      // bucketing under a hot-region box scan + decoded-rows guard
      "bench_layout2d_skew_scaled", "bench_layout2d_skew_ranked",
      "bench_layout2d_skew_guard",
      // BPE encode scaling: 64 vs 512 merges over the same corpus
      "bench_bpe_enc64", "bench_bpe_enc512",
      // r12: kernel encode at production merge counts (8192 vs 1024
      // over the same synthetic vocab corpus) + the 5M-word/32k-merge
      // driver-trainer certification behind autoDictGate
      "bench_bpe_enc8k", "bench_bpe_enc1k_kernel",
      "bench_bpe_train5m_guard",
      // r15: the counted-metric certification that replaced the
      // noise-fragile enc8k seconds claim (executed kernel passes at
      // 1024 vs 8192 merges + answer equality vs the expression path)
      "bench_bpe_enc_guard"))
    assert(extras.intersect(SparkEntry.queries.keySet).isEmpty)
    // extras must NOT leak into Verify/oracle accounting
    assert(extras.intersect(SparkEntry.oracleSql.keySet).isEmpty)
  }

  test("load qualification: flagged entries named in the full artifact, " +
      "counted on the compact line, threshold scales with cores") {
    val r = Seq(
      Bench.QTime("bench_a", 1.0, 1.2, None, Vector(1.2, 1.0)),
      Bench.QTime("bench_b", 2.0, 2.1, None, Vector(2.1, 2.0)))
    val full = mapper.readTree(Bench.renderFull(r, "sf", "32", 3,
      loadQualified = Set("bench_b", "not_in_results")))
    // named (results-present only) + the threshold that flagged them
    assert(full.get("load_qualified").size() == 1)
    assert(full.get("load_qualified").get(0).asText() == "bench_b")
    assert(full.get("load_threshold_x100").asLong() == 32L * 125L)
    // the field is ALWAYS present (empty = policy ran, nothing flagged)
    val clean = mapper.readTree(Bench.renderFull(r, "sf", "32", 3))
    assert(clean.get("load_qualified") != null &&
      clean.get("load_qualified").size() == 0)
    val compact = mapper.readTree(Bench.renderCompact(r, "sf", "32", 3,
      loadQualified = Set("bench_b")))
    assert(compact.get("n_loadq").asInt() == 1)
    assert(mapper.readTree(Bench.renderCompact(r, "sf", "32", 3))
      .get("n_loadq").asInt() == 0)
    // threshold: 1.25x the core count, in load_x100 units; a
    // non-numeric cpus string falls back to the 4-core default
    assert(Bench.loadQualifyThresholdX100("4") == 500L)
    assert(Bench.loadQualifyThresholdX100("junk") == 500L)
  }

  test("cold-head is STRICT: a later run tying the head keeps the entry " +
      "flagged instead of absorbing it (r12 advice)") {
    // head ties max via a LATER sample — the slow mode recurred, so
    // reclassifying the head as warmup would soften a real repeated
    // slow mode into cold_warmup_secs
    assert(!Bench.isColdHead(Vector(8.0, 2.0, 8.0)))
    assert(!Bench.isColdHead(Vector(8.0, 8.0, 2.0)))
    // strictly-worst head still matches
    assert(Bench.isColdHead(Vector(8.0, 2.0, 7.9999)))
  }

  test("compact line counts cold-absorbed entries (n_cold)") {
    val r = Seq(
      Bench.QTime("bench_a", 1.0, 1.2, None, Vector(1.2, 1.0, 1.1),
        Vector(0L, 0L, 0L), coldSecs = Vector(6.6), coldGcMs = Vector(9L)),
      Bench.QTime("bench_b", 1.0, 1.1, None, Vector(1.1, 1.0, 1.0),
        Vector(0L, 0L, 0L)))
    val tree = mapper.readTree(Bench.renderCompact(r, "sf", "32", 3))
    assert(tree.get("n_cold").asInt() == 1)
    val none = mapper.readTree(Bench.renderCompact(r.tail, "sf", "32", 3))
    assert(none.get("n_cold").asInt() == 0)
  }

  test("single-run controls: real designed-to-lose cohort members, " +
      "named in the full artifact") {
    // each control is the rhs (the loser) of at least one claim and a
    // member of a crossover cohort — single-sampling anything else
    // would silently weaken a number someone compares
    for (c <- Bench.singleRunControls) {
      assert(Bench.allBenchQueries.contains(c), s"$c is not a bench entry")
      assert(Bench.crossoverCohorts.exists(_.contains(c)),
        s"$c is not in a cohort")
      assert(Bench.claimSpecs.exists(_._3 == c),
        s"$c is not any claim's designed-to-lose side")
      assert(!Bench.claimSpecs.exists(_._2 == c),
        s"$c is a claim's lhs — its own number IS compared")
      assert(!Bench.certificationOnly(c),
        s"$c is certification-only; the sets must stay disjoint")
    }
    val r = Seq(
      Bench.QTime("bench_asof_argmax", 12.0, 12.0, None, Vector(12.0),
        Vector(0L)),
      Bench.QTime("q1_agg", 1.0, 1.0, None, Vector(1.0), Vector(0L)))
    val full = mapper.readTree(Bench.renderFull(r, "sf", "32", 3))
    val ctrl = full.get("single_run_controls")
    assert(ctrl != null && ctrl.size() == 1 &&
      ctrl.get(0).asText() == "bench_asof_argmax")
    // absent when no control ran (a BENCH_ONLY slice without them)
    val none = mapper.readTree(Bench.renderFull(r.tail, "sf", "32", 3))
    assert(none.get("single_run_controls") == null)
  }

  test("partial marker distinguishes an incremental checkpoint from a " +
      "completed run in both artifact forms") {
    val r = Seq(Bench.QTime("q1_agg", 1.0, 1.0, None))
    val pc = mapper.readTree(Bench.renderCompact(r, "sf", "32", 3,
      partial = Some((7, 38))))
    assert(pc.get("partial").asText() == "chunk 7/38")
    val pf = mapper.readTree(Bench.renderFull(r, "sf", "32", 3,
      partial = Some((7, 38))))
    assert(pf.get("partial").asText() == "chunk 7/38")
    // a completed run carries NO partial field — its absence is the
    // completion signal
    assert(mapper.readTree(Bench.renderCompact(r, "sf", "32", 3))
      .get("partial") == null)
    assert(mapper.readTree(Bench.renderFull(r, "sf", "32", 3))
      .get("partial") == null)
  }

  test("fork telemetry carries the observed load average and stays " +
      "backward-compatible without it") {
    val stats = Bench.ForkStats(1234, 56, 4096, loadX100 = 2750)
    val text = Bench.renderTsv(Seq(Bench.QTime("q_ok", 1.5, 1.8, None))) +
      Bench.renderTelemetryLine(stats) + "\n"
    assert(Bench.parseTelemetry(text).contains(stats))
    // an old child's line without load_x100 parses with the -1 sentinel
    val old = "#telemetry\tgc_ms=10\tgc_count=2\theap_peak_mb=64\n"
    assert(Bench.parseTelemetry(old)
      .contains(Bench.ForkStats(10, 2, 64, -1)))
    // render: load present as a decimal, omitted at the sentinel
    val line = Bench.renderFull(
      Seq(Bench.QTime("q1_agg", 1.0, 1.0, None)), "sf", "32", 3,
      forks = Map("dd_1" -> stats, "old" -> Bench.ForkStats(1, 1, 1, -1)))
    val ft = mapper.readTree(line).get("fork_telemetry")
    assert(math.abs(ft.get("dd_1").get("load").asDouble() - 27.5) < 1e-9)
    assert(!ft.get("old").has("load"))
  }

  test("cert cache: sources map names real cert entries whose files " +
      "exist; the key moves when a certified source changes") {
    assert(Bench.certSources.keySet == Bench.certificationOnly,
      "every certification-only entry needs a source map (and nothing " +
        "else may have one) — an unmapped guard would never cache, a " +
        "stale mapping would cache a renamed one forever")
    for ((n, files) <- Bench.certSources; f <- files)
      assert(java.nio.file.Files.isReadable(
        java.nio.file.Paths.get("src", "main", "scala", "graft", f)),
        s"cert source for $n does not exist: $f")
    val k1 = Bench.certKey("bench_cc_guard", "32", "/root/testdata/sf0.1")
    assert(k1.isDefined && k1.get.length == 64)
    // deterministic
    assert(Bench.certKey("bench_cc_guard", "32",
      "/root/testdata/sf0.1") == k1)
    // run conditions are part of the key: a 4-cpu pass must never
    // satisfy a 32-cpu run (the r12 burned-artifact lesson)
    assert(Bench.certKey("bench_cc_guard", "4",
      "/root/testdata/sf0.1") != k1)
    assert(Bench.certKey("bench_cc_guard", "32",
      "/root/testdata/sf0.01") != k1)
    // different guards with different sources get different keys
    assert(Bench.certKey("bench_bpe_guard", "32",
      "/root/testdata/sf0.1") != k1)
    // unknown entry: no key, no caching
    assert(Bench.certKey("nope", "32", "sf").isEmpty)
  }

  test("cert cache file round-trips and malformed input degrades to " +
      "empty, never to garbage") {
    val entries = Map(
      "bench_cc_guard" -> ("ab" * 32, 73.2),
      "bench_bpe_train5m_guard" -> ("cd" * 32, 64.8))
    val dir = java.nio.file.Files.createTempDirectory("certcache")
    val p = dir.resolve("bench_cert_cache.json")
    java.nio.file.Files.writeString(p, Bench.renderCertCache(entries))
    // the rendered form is valid JSON
    mapper.readTree(java.nio.file.Files.readString(p))
    assert(Bench.readCertCache(p) == entries)
    // missing file / malformed file -> empty cache
    assert(Bench.readCertCache(dir.resolve("nope.json")).isEmpty)
    java.nio.file.Files.writeString(p, "{ not json")
    assert(Bench.readCertCache(p).isEmpty)
  }

  test("cert-cache hit resolution: matching run-start key satisfies, " +
      "stale or missing key runs fresh") {
    val k1 = Bench.certKey("bench_asof_guard", "32",
      "/root/testdata/sf0.1").get
    val k2 = Bench.certKey("bench_rj_guard", "32",
      "/root/testdata/sf0.1").get
    val cache = Map(
      "bench_asof_guard" -> (k1, 12.5),     // fresh key -> hit
      "bench_rj_guard" -> ("0" * 64, 9.9),  // stale key -> miss
      "bench_renamed_away" -> (k1, 1.0))    // not asked for -> ignored
    val keys = Map("bench_asof_guard" -> k1, "bench_rj_guard" -> k2)
    val (hits, names) = Bench.resolveCertHits(cache, keys)
    assert(names == Set("bench_asof_guard"))
    assert(hits.map(h => (h.name, h.secs, h.err)) ==
      Seq(("bench_asof_guard", 12.5, None)))
    // empty cache / empty keys degrade to nothing cached
    assert(Bench.resolveCertHits(Map.empty, keys)._2.isEmpty)
    assert(Bench.resolveCertHits(cache, Map.empty)._2.isEmpty)
  }

  test("cache-satisfied certifications are named and excluded from " +
      "cert_secs (wall actually spent)") {
    val r = Seq(
      Bench.QTime("bench_cc_guard", 73.0, 73.0, None),      // cached
      Bench.QTime("ds_curate_staged", 16.0, 16.0, None),    // fresh
      Bench.QTime("q1_agg", 1.0, 1.0, None))
    val cached = Set("bench_cc_guard")
    val full = mapper.readTree(Bench.renderFull(r, "sf", "32", 3,
      certCached = cached))
    val cc = full.get("certification_cached")
    assert(cc != null && cc.size() == 1 &&
      cc.get(0).asText() == "bench_cc_guard")
    // cert_secs counts only the fresh certification
    assert(math.abs(full.get("cert_secs").asDouble() - 16.0) < 1e-9)
    // the cached entry's (stale) seconds still appear per-entry
    assert(full.get("queries").get("bench_cc_guard").asDouble() == 73.0)
    val compact = mapper.readTree(Bench.renderCompact(r, "sf", "32", 3,
      certCached = cached))
    assert(compact.get("n_cert").asInt() == 2)
    assert(compact.get("n_cert_cached").asInt() == 1)
    assert(math.abs(compact.get("cert_secs").asDouble() - 16.0) < 1e-9)
  }

  test("failed chunks carry exit code + log tail in the artifact " +
      "(r18, r17 verdict #3)") {
    val r = Seq(Bench.QTime("q1_agg", 1.0, 1.0, None))
    val fc = Map(
      "ds" -> Bench.ChunkFailure(Some(137),
        "java.lang.OutOfMemoryError: Java heap space\n\tat X"),
      "sim_2" -> Bench.ChunkFailure(None, "[timeout after 600 s]"))
    val full = mapper.readTree(Bench.renderFull(r, "sf", "32", 3,
      failedChunks = fc))
    val node = full.get("failed_chunks")
    assert(node != null && node.size() == 2)
    assert(node.get("ds").get("exit").asInt() == 137)
    assert(node.get("ds").get("log_tail").asText()
      .contains("OutOfMemoryError"))
    assert(node.get("sim_2").get("exit").isNull) // timeout = null exit
    val compact = mapper.readTree(Bench.renderCompact(r, "sf", "32", 3,
      failedChunks = fc))
    assert(compact.get("n_failed_chunks").asInt() == 2)
  }

  test("log tail is bounded: last 20 lines, long lines clipped, " +
      "total capped") {
    val longLine = "x" * 1000
    val text = (1 to 100).map(i => s"line$i").mkString("\n") +
      "\n" + longLine
    val tail = Bench.logTailOf(text)
    assert(tail.contains("line100") && !tail.contains("line80\n"))
    assert(tail.length <= 4000)
    assert(!tail.contains(longLine)) // clipped with an ellipsis
  }

  test("an explicit SPARK_GRAFT_BENCH_CHUNK caps the light-family " +
      "overrides too (r18, r17 advice)") {
    val names = Seq("x_a", "x_b", "x_c", "q_a", "dd_a", "dd_b")
    // no env cap: x rides its 64-entry override, one chunk
    val free = Bench.forkChunks(names, maxPer = 6, envChunkCap = None)
    assert(free.count(_._1.startsWith("x")) == 1)
    // explicit cap 1: EVERY family honors it — isolating a
    // misbehaving query isolates light-family queries as well
    val capped = Bench.forkChunks(names, maxPer = 1,
      envChunkCap = Some(1))
    assert(capped.forall(_._2.size == 1),
      s"cap 1 must isolate every entry: $capped")
  }

  test("rig cache keys: whitelisted rigs key deterministically, " +
      "unknown keys don't, and the key moves with cores") {
    val a = Bench.rigKey("ann_corpus", 32)
    assert(a.isDefined && a == Bench.rigKey("ann_corpus", 32))
    assert(a != Bench.rigKey("ann_corpus", 8))
    assert(Bench.rigKey("guard_cc", 32).isEmpty) // guards never persist
    assert(Bench.rigKey("skew_fact", 32).isEmpty) // session-bound rigs
    // every whitelisted rig resolves from inside the repo
    Bench.rigSpecs.keys.foreach(k =>
      assert(Bench.rigKey(k, 32).isDefined, s"rig $k has no key"))
  }

  test("restoreRigLayout puts a scattered cached rig back in generation " +
      "order at the requested parallelism (r18: the CC pre-pass depends " +
      "on same-component edges staying ADJACENT, which no column carries)") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    // generation order = ascending id; stamp the order col the writer
    // stamps, then scatter the way a coalesced parquet read + round-robin
    // repartition would
    val stamped = spark.range(0, 1000, 1, 8).toDF("payload")
      .withColumn(Bench.RigOrderCol, monotonically_increasing_id())
    val scattered = stamped.repartition(3)
    val restored = Bench.restoreRigLayout(scattered, 8)
    assert(restored.columns.toSeq == Seq("payload"), "order col must drop")
    assert(restored.rdd.getNumPartitions == 8)
    // within every partition rows are back in generation order, and the
    // partitions cover contiguous, ordered ranges (range partitioning)
    val perPart = restored.select(
        spark_partition_id().as("pid"), col("payload"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val byPid = perPart.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).toSeq)
    byPid.foreach(p => assert(p == p.sorted, "partition not in gen order"))
    assert(byPid.flatten == (0L until 1000L), "global order lost")
  }

  test("the env knobs Bench reads are exactly the pinned set") {
    // every knob doubles the configurations a bench run can be in:
    // adding one must be a visible edit here, and the Bench header
    // documents the same set
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")))
    val read = """sys\.env\.(?:get|getOrElse)\(\s*"(SPARK_GRAFT_[A-Z0-9_]+)"""".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    val pinned = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_BENCH_ONLY",
      "SPARK_GRAFT_BENCH_FORK", "SPARK_GRAFT_BENCH_OUT",
      "SPARK_GRAFT_BENCH_EXTRAS", "SPARK_GRAFT_BENCH_CHUNK",
      "SPARK_GRAFT_BENCH_WARMUP", "SPARK_GRAFT_BENCH_CHILD_TIMEOUT_S",
      "SPARK_GRAFT_BENCH_CERT_CACHE", "SPARK_GRAFT_RIG_CACHE",
      "SPARK_GRAFT_BENCH_RESULT_TSV")
    assert(read == pinned,
      s"added: ${read -- pinned}; removed: ${pinned -- read}")
    val header = src.take(src.indexOf("object Bench"))
    for (k <- pinned) assert(header.contains(k), s"header omits $k")
  }
}
