package graft
object Bench {

  /** 1-min host load average, -1.0 where the platform has none. */
  private def loadAvg1(): Double =
    try math.max(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage, -1.0)
    catch { case _: Throwable => -1.0 }

  /** Policy bound for the quiet-host gate: 3.0 on this 32-core box
    * (≲10% busy), override via SPARK_GRAFT_LOAD_BOUND. */
  private def loadBound(): Double =
    sys.env.get("SPARK_GRAFT_LOAD_BOUND")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(3.0)

  /** Load-gate for the gated contract section (VERDICT r13 #2): the gated
    * readings are the numbers BASELINE.md pins its bands on, and rounds
    * 12–13 both stamped them under host load ≥ 5.5 — bit-identical
    * semantics, 2× low throughput, a footnote instead of a fact. Wait
    * (with doubling backoff, bounded total budget) until 1-min load is
    * inside policy; if the host never settles, run anyway — a contended
    * reading beats no reading — but the gate JSON carries the probe-time
    * load, the waits, and an `in_policy` verdict so the record is
    * self-interpreting with no footnote. Returns (probe-time load, waits,
    * bound) for the caller's gate object. */
  private def waitForQuietHost(): (Double, Int, Double) = {
    val bound = loadBound()
    var waits = 0
    var sleepMs = 30000L
    var budgetMs = 480000L // ~8 min total; load avg1 decays in ~2 min
    var l = loadAvg1()
    while (l > bound && budgetMs > 0) {
      val ms = math.min(sleepMs, budgetMs)
      Thread.sleep(ms)
      budgetMs -= ms; sleepMs = math.min(sleepMs * 2, 240000L); waits += 1
      l = loadAvg1()
    }
    (l, waits, bound)
  }

  private def fmt2(v: Double): String =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

  /** The gate object's `in_policy` tri-state: load unavailable
    * (getSystemLoadAverage = -1) is UNKNOWN, not out-of-policy —
    * in_policy:null distinguishes "couldn't read the host" from "host
    * was contended" in the record (ADVICE r14). */
  private def policyStr(l: Double, bound: Double): String =
    if (l < 0) "null" else (l <= bound).toString

  def main(args: Array[String]): Unit = {
    // the corpus comes from the environment only; an argument would be
    // silently ignored, so any is refused before the session builds
    if (args.nonEmpty) {
      System.err.println("usage: [SPARK_GRAFT_SF_DIR=<sfDir>] Bench (no arguments)")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSessions.recommended("graft-bench")
    // Steady-state methodology: one untimed warm pass over every query
    // (JIT + whole-stage-codegen compilation + parquet footers), then the
    // timed pass in fixed name order. Wide plans cost seconds of one-time
    // codegen compilation that would otherwise be misattributed to whichever
    // query ran first.
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    // specOnly sketch queries (approx_count_distinct / approx-percentile /
    // HLL rollup) are real operators with real costs — they skip the
    // DuckDB gate by design, not the clock. Without them the BASELINE.md
    // contract query q_approx_distinct had no bench row since round 6.
    val ordered = (SparkEntry.queries ++ SparkEntry.specOnly).toSeq.sortBy(_._1)
    // Each timed pass: reset the suite-scoped snapshots and time their
    // rebuild as ONE attributable pseudo-entry, so the shared pipelines'
    // cost is under the clock instead of landing on whichever consumer
    // runs first. Consumers then measure post-snapshot work — the
    // production shape, where a snapshot is a persisted artifact built
    // once per corpus version. SnapshotBuild.all also returns
    // per-artifact seconds (`snapshot_detail`). `names` restricts the pass
    // to a query subset (the contract section); null = every registered
    // query.
    def timedPass(names: Set[String] = null): (Seq[(String, Double)], Seq[(String, Double)]) = {
      graft.util.SnapshotCache.clearAll()
      val snapT0 = System.nanoTime()
      val (snapSecs, snapDetail) =
        try { val d = graft.util.SnapshotBuild.all(spark, sfDir)
              ((System.nanoTime() - snapT0) / 1e9, d) }
        catch { case _: Throwable => (-1.0, Seq.empty[(String, Double)]) }
      val subset =
        if (names == null) ordered else ordered.filter(e => names(e._1))
      val entries = ("snapshot_build" -> snapSecs) +: subset.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // a failed query reports -1.0, not its (meaningless) elapsed time —
        // otherwise a plan-time exception would masquerade as a fast success
        val secs =
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => -1.0 }
        name -> secs
      }
      (entries, snapDetail)
    }
    // --- Gated contract record (VERDICT r14 #1): the 40-query
    // BASELINE.md contract subset runs FIRST — before the full suite has
    // fragmented the heap — as a load-gated, probe-first, best-of-3
    // section: wait for a quiet host, two untimed warm passes, then
    // three timed passes with the per-query minimum as the committed
    // reading. The gate object (probe load, waits, in_policy, per-pass
    // totals) makes the record self-interpreting — a contended reading
    // carries its own evidence instead of a footnote.
    val contractNames: Set[String] = Set(
      "curate_pipeline", "dedup_embedding", "dedup_exact", "dedup_minhash",
      "dedup_ngram_capped", "dedup_ngram_jaccard", "dedup_simhash",
      "dedup_simhash_pairs", "knn_brute", "knn_ivf", "mm_meta", "pack_shards",
      "q12_late_lines", "q14_promo_share", "q1_pricing", "q3_top_orders",
      "q5_nation_revenue", "q6_forecast", "q9_profit", "q_approx_distinct",
      "q_clean", "q_daily_rank", "q_dedup", "q_enrich", "q_inactive_custs",
      "q_orders_histogram", "q_percentiles", "q_pivot_pricing",
      "q_premium_rollup", "q_rollup_pricing", "q_sessionize",
      "q_top_suppliers", "q_topk_per_nation", "q_user_cohorts",
      "q_window_agg", "sample_split", "text_fingerprint", "text_langid",
      "text_quality", "text_tokens", "snapshot_build")
    val (cLoad, cWaits, cBound) = waitForQuietHost()
    // TWO untimed warm passes (codegen + parquet footers + JIT tiering):
    // with one, the gated readings sat ~20% above the same queries'
    // full-suite minimums — the full suite executes each query 6+ times
    // by its second timed pass, and C2 is still compiling hot loops on a
    // query's second execution. Two warm + three timed ≈ the same
    // steady state the full-suite mins enjoy, so the gate measures load
    // trust, not JIT phase.
    timedPass(contractNames); timedPass(contractNames)
    // Blind-window self-check (VERDICT r15 #2): the r15 gate probed load
    // ONCE, then trusted the next ~80 s — and the driver's committed
    // record showed readings [44.1/88.7/27.3 s] at in-policy probe load
    // 1.65 (a burst landed after the probe; one pass read 4.3× another).
    // Now every pass records the 1-min load at its END, and while the
    // best-3 pass-total spread exceeds 1.3×, the gate re-waits for a
    // quiet host and appends a replacement pass (at most 3 extra). The
    // committed `readings` are the best-3 totals; discarded totals,
    // per-pass loads, and the final spread all land in the gate object,
    // and `in_policy` is the CONJUNCTION of probe-in-bound and
    // spread ≤ 1.3 — a record that couldn't settle says so itself.
    case class CPass(entries: Seq[(String, Double)], total: Double, load: Double)
    def runContractPass(): CPass = {
      val e = timedPass(contractNames)._1
      CPass(e, e.collect { case (_, s) if s >= 0 => s }.sum, loadAvg1())
    }
    val cPasses = scala.collection.mutable.ArrayBuffer(
      runContractPass(), runContractPass(), runContractPass())
    def best3(ps: Seq[CPass]): Seq[CPass] = ps.sortBy(_.total).take(3)
    def spreadOf(ps: Seq[CPass]): Double = {
      val t = ps.map(_.total)
      if (t.isEmpty || t.min <= 0) Double.MaxValue else t.max / t.min
    }
    var cRetries = 0
    while (spreadOf(best3(cPasses.toSeq)) > 1.3 && cRetries < 3) {
      waitForQuietHost()
      cPasses += runContractPass()
      cRetries += 1
    }
    val committedPasses = best3(cPasses.toSeq)
    val discardedTotals = {
      val keep = committedPasses.map(_.total).groupBy(identity).map { case (k, v) => k -> v.size }
      val counts = scala.collection.mutable.Map(keep.toSeq: _*)
      cPasses.toSeq.map(_.total).filter { t =>
        val n = counts.getOrElse(t, 0)
        if (n > 0) { counts(t) = n - 1; false } else true
      }
    }
    // per-query minimum over ALL passes (discarded included — contention
    // only ever inflates a batch reading, so every pass's min is valid)
    val contractPasses = cPasses.toSeq.map(_.entries)
    val contractBest: Seq[(String, Double)] = contractPasses.head.map(_._1).map { name =>
      val samples = contractPasses.flatMap(_.collectFirst {
        case (`name`, s) if s >= 0 => s })
      name -> (if (samples.isEmpty) -1.0 else samples.min)
    }
    val contractReadings = committedPasses.map(_.total)
    val cSpread = spreadOf(committedPasses)
    val cPolicy = {
      val probe = policyStr(cLoad, cBound)
      if (cSpread > 1.3) "false" else probe
    }
    val contractGateObj =
      s"""{"probe_load":${fmt2(cLoad)},"bound":$cBound,"waits":$cWaits,""" +
        s""""in_policy":$cPolicy,""" +
        s""""pass_loads":${cPasses.map(p => fmt2(p.load)).mkString("[", ",", "]")},""" +
        s""""discarded":${discardedTotals.map(t => fmt2(t)).mkString("[", ",", "]")},""" +
        s""""retries":$cRetries,"spread":${fmt2(if (cSpread == Double.MaxValue) -1.0 else cSpread)}}"""
    // warm the REST of the suite (the contract section warmed its 40)
    // before the full timed passes
    ordered.foreach { case (name, fn) =>
      if (!contractNames(name))
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    // TWO timed passes, per-query minimum (the round-2 best-of-two
    // methodology): run-to-run noise on this machine is ±15% with rare
    // multi-× GC spikes on individual queries — one spiked sample must not
    // masquerade as a plan regression. A query failing BOTH passes reports
    // -1.0; a single-pass failure keeps the successful sample but is listed
    // in "flaky" so an intermittent failure is observable across rounds
    // instead of silently absorbed (ADVICE r8).
    val (p1, d1) = timedPass()
    val (p2raw, d2) = timedPass()
    val p2 = p2raw.toMap
    val results = p1.map { case (name, s1) =>
      val s2 = p2.getOrElse(name, -1.0)
      val merged =
        if (s1 >= 0 && s2 >= 0) math.min(s1, s2)
        else math.max(s1, s2) // at most one succeeded; -1.0 only if both failed
      name -> merged
    }
    val flaky = p1.collect {
      case (name, s1) if (s1 < 0) != (p2.getOrElse(name, -1.0) < 0) => "\"" + name + "\""
    }.mkString("[", ",", "]")
    // per-artifact snapshot_build attribution: min over the two cold
    // builds, keyed on the UNION of both passes — keying on pass 1 alone
    // would silently drop all attribution exactly when pass 1's build
    // failed and pass 2's succeeded (the flaky rounds it exists to explain)
    val d1m = d1.toMap
    val d2m = d2.toMap
    // millisecond resolution in the record: noise on this box is ±15%, so
    // sub-ms digits are pure line width — and line width is exactly what
    // front-truncated the driver's capture window in rounds 8/9
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val snapDetail = (d1.map(_._1) ++ d2.map(_._1)).distinct.map { name =>
      val s = (d1m.get(name).toSeq ++ d2m.get(name).toSeq).min
      s"\"" + name + "\":" + fmt(s)
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // total sums ONLY successful queries — a -1.0 failure marker must not
    // shrink the total and let a breaking regression read as a speedup.
    // Failures are listed explicitly so a cross-round total compare is
    // apples-to-apples (same query set) or visibly not.
    val total = results.collect { case (_, s) if s >= 0 => s }.sum
    val failed = results.collect { case (k, s) if s < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // r13 (VERDICT r12 #8): driver-vs-builder totals on the identical tree
    // differed 14% with no code change — record the host pressure so the
    // next verdict can separate plan movement from machine contention.
    val load = {
      val avg = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      val procs =
        try {
          val s = java.nio.file.Files.list(java.nio.file.Paths.get("/proc"))
          try s.filter(p => p.getFileName.toString.forall(_.isDigit)).count()
          finally s.close()
        } catch { case _: Throwable => -1L }
      s"""{"avg1":${fmt(math.max(avg, -1.0))},"procs":$procs,"cores":${Runtime.getRuntime.availableProcessors}}"""
    }
    // The GATED contract object: per-query best-of-3 under the load gate,
    // the three pass totals, and the gate verdict. This is the number
    // BASELINE.md's 40-query contract band pins from round 15 on; the
    // full-suite `queries` map (min-of-2, ungated) stays for continuity
    // and per-query archaeology.
    val contractQs = contractBest.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val contractTotal = contractBest.collect { case (_, s) if s >= 0 => s }.sum
    // ex-snapshot contract (r17, VERDICT r16 #4): snapshot_build IS a
    // contract entry, but since r16 it carries shared builds for mostly
    // NON-contract consumers — the raw contract total moves when build
    // work is relocated, not when queries change speed. BASELINE.md pins
    // its band on this statistic from r17 on.
    val contractExSnapshot = contractTotal -
      contractBest.collectFirst { case ("snapshot_build", s) if s >= 0 => s }.getOrElse(0.0)
    // the compact line's contract carries total + readings + gate ONLY
    // (VERDICT r15 #1 / ADVICE r15: the 41-entry per-query map pushed the
    // line past the driver's 2000-char tail capture and BENCH_r15 came
    // back "parsed": null); the per-query map rides the full record
    val contractSlim =
      s"""{"total":${fmt(contractTotal)},"ex_snapshot":${fmt(contractExSnapshot)},"readings":${contractReadings.map(fmt).mkString("[", ",", "]")},"gate":$contractGateObj}"""
    val contract = contractSlim.dropRight(1) + s""","queries":$contractQs}"""
    // Record provenance (VERDICT r15 #7): BENCH_LOCAL.json is last-writer-
    // wins between builder and driver runs, and the working tree
    // habitually carried a driver record whose gate story differed from
    // the committed narrative with nothing in the file saying whose run it
    // was. The writer tag rides in from the environment (tools/bench.sh
    // passes SPARK_GRAFT_BENCH_WRITER through; the builder's quiet runs
    // export =builder) — an unattributed record is a driver/CI run.
    val writer = sys.env.getOrElse("SPARK_GRAFT_BENCH_WRITER", "unattributed")
    val record = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","writer":"$writer","failed":$failed,"flaky":$flaky,"contract":$contract,"load":$load,"snapshot_detail":$snapDetail,"queries":$qs,"sf":"$sfDir"}"""
    // Full 167-entry record → per-run scratch target/bench_full.json (and
    // the committed BENCH_LOCAL.json below at the artifact's scale).
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_full.json"),
        (record + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // The committed sf0.1 record additionally lands in repo-root
    // BENCH_LOCAL.json for BASELINE.md bookkeeping — ONLY at the
    // artifact's defined scale: preflight --full runs Bench at sf0.01 as a
    // smoke gate, and an unconditional write let that run clobber the
    // committed sf0.1 record (caught in round 9). Gate on the normalized
    // basename, not endsWith: a trailing slash must not skip the refresh,
    // and an unrelated "…mysf0.1" dir must not pass (ADVICE r9).
    val sfName =
      try java.nio.file.Paths.get(sfDir).getFileName.toString catch { case _: Throwable => "" }
    if (sfName == "sf0.1") {
      try {
        val p = java.nio.file.Paths.get("BENCH_LOCAL.json")
        java.nio.file.Files.write(p, (record + "\n").getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    }
    // stdout (and target/bench_compact.json, which tools/bench.sh emits
    // verbatim) gets a BOUNDED-SIZE record, not the full one: the driver's
    // capture window front-truncated the ~5 KB full line for three rounds
    // running (BENCH_r08–r10 "parsed": null) even though the full record
    // was correct — the line's HEAD fell outside the window, so no JSON
    // parsed. A 5 KB single line would front-truncate even through
    // bench.sh's clean stdout. The compact line pins the contract surface
    // (suite total, failures, the GATED contract total/readings/gate) in
    // ~1 KB, guaranteed inside the driver's 2000-char tail window — NO
    // per-query map rides it (VERDICT r15 #1: the duplicated 41-entry
    // maps grew the line to ~2.8 KB and BENCH_r15 front-truncated to
    // "parsed": null). Per-query numbers live in the committed
    // BENCH_LOCAL.json (and per-run in target/bench_full.json).
    val compact = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","writer":"$writer","n_queries":${results.size},"failed":$failed,"flaky":$flaky,"contract":$contractSlim,"load":$load,"full_record":"BENCH_LOCAL.json","sf":"$sfDir"}"""
    // the compact record also lands in one fixed file: a bare `sbt runMain`
    // frames stdout, a file needs no log parsing
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_compact.json"),
        (compact + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    println(compact)
    spark.stop()
  }
}
