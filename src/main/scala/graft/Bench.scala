package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line on stdout (driver contract).
  *
  * Runs every SparkEntry query against `SPARK_GRAFT_SF_DIR` and forces
  * FULL materialization through the `noop` sink (a bare `.count()`
  * would let Catalyst prune projections and undercount the real work).
  * Times exclude SparkSession startup (the honest steady-state
  * comparison per BASELINE.md).
  *
  * The recorded number is the MEDIAN of the timed runs, and the bench
  * is SELF-EVIDENCING against machine load — twice in a row a recorded
  * bench was a contamination artifact (a single-shot 2.4x phantom
  * regression, then a fully-loaded window reporting 74.5 s for a real
  * 46.0 s run), and a third time the evidence itself broke the
  * deliverable: the r6 single-line JSON grew past the driver's
  * stdout-tail capture and truncated away the headline. So the output
  * is now TWO stdout lines plus a sidecar:
  *  - line 1 (evidence, may be truncated harmlessly): `runs` — every
  *    raw per-run time per query (a contaminated window shows up as a
  *    wide spread or a uniformly-shifted triple) — plus the loadavg
  *    samples; also written whole to BENCH_EVIDENCE.json in the cwd;
  *  - LAST line (the driver contract, compact — medians only, so it
  *    always survives a tail-capture window): total/queries plus
  *    `spread_flagged`, `failed`, `skipped` (each with its reason),
  *    `contended_start`.
  * Load evidence: `loadavg_before` is /proc/loadavg (1m/5m/15m)
  * sampled BEFORE the SparkSession exists (a nonzero 1-minute load
  * there means the window was dirty before we did any work),
  * `loadavg_started` right after session startup, `loadavg_after` at
  * the end; `contended_start` = `loadavg_before[0] > cores/4`;
  * `cpu_steal_pct` = hypervisor-stolen share of non-idle CPU over the
  * whole window (loadavg is blind to steal — a host-throttled guest
  * can blow out wall times 10× at loadavg 2, and did, r8).
  * Spread retry: a query whose steady-state min/max spread exceeds 2x
  * gets up to [[Bench.MaxExtraRuns]] extra runs (median over all of
  * them); queries still spread after retries land in `spread_flagged`.
  * Steal gate: an attempt whose window steal exceeds
  * [[Bench.StealLimitPct]] is discarded and re-measured (up to
  * [[Bench.MaxAttempts]]); if every attempt is contaminated the
  * artifact publishes `steal_contaminated: true` with a NULL total —
  * a 77.8%-steal run (r9) must never lock a round as comparable.
  * Load gate (r14, extended r15): before ANY work the bench waits for
  * the 1-minute loadavg to drop below [[Bench.LoadGateMax]] AND the
  * 5-minute loadavg below [[Bench.LoadGateMax5]] (see
  * [[Bench.loadGate]]), recording `load_gate_passed` /
  * `load_gate_waited_sec` / `load_gate_last` / `load_gate_last5` in
  * both output lines — steal is blind to guest-local contention,
  * r13's battery started at loadavg 4.1 (+15% uniform drift), and
  * r14's passed the 1-minute gate at 0.85 while the 15-minute load
  * stood at 5.22 (+8% drift on the residue).
  */
object Bench {

  // MaxExtraRuns raised 2 -> 4 in r7: q_dedup_ngram / q_dedup_simhash
  // stayed spread-flagged after 2 extras in r6 (shuffle-size variance
  // at sf0.1); more retries let the median converge on an honest value
  // and clear the flag on an idle box.
  private val Runs = 3
  private val MaxExtraRuns = 4
  private val SpreadLimit = 2.0

  /** Queries whose steady state needs more than one untimed execution:
    * iterative driver loops (pagerank) re-enter the same codegen'd
    * stages 5× per run, so the JIT tiers across EXECUTIONS — r12's
    * one-pass warm-up left its first two timed runs 2.2–2.7× over
    * steady state. q_hard_negatives added in r16: its ObjectHashAgg
    * UDAF (TopKAggregator) path tiers the same way — the r15 battery's
    * one spread flag was a 0.51 s first run over a 0.22 s floor with
    * every later run at steady state (the JIT shape, confirmed by the
    * 12-run standalone probe in SPREAD_PROBE.json). */
  private val ExtraWarmups = Map("q_pagerank" -> 3, "q_hard_negatives" -> 2)

  /** True median: middle element, or mean of the two middles for the
    * even-sized run lists the spread retry can produce (taking the
    * upper-middle there would bias the report toward exactly the slow
    * runs the retry was meant to compensate for). Shared with
    * [[ScaleBench]] so the two benches can't silently diverge on
    * median semantics again.
    */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Spread over ALL timed runs: since r12 `timed()` pays the
    * per-query codegen/JIT compile in an untimed warm-up, every timed
    * run is steady state and belongs in the check — dropping run 1
    * (the pre-warm-up discipline) would let a load spike during the
    * first timed run slip past the gate unflagged.
    */
  private def spreadOk(xs: Seq[Double]): Boolean =
    xs.max <= xs.min * SpreadLimit

  /** Per-timed-run environment snapshot deltas — the instrumentation
    * the r16/r17 `q_media_dup_groups` spike adjudication demanded: two
    * independent driver batteries flagged the SAME query at the SAME
    * run positions (runs 3–4 of 7, 3–5× over the ~2 s floor) while
    * 12-run standalone probes stayed flat, so the trigger is
    * battery-context state and the evidence must separate the
    * hypotheses per run: a major-GC pause landing inside the run
    * (gcMs), JIT recompilation (jitMs), a /tmp artifact rebuild
    * (acBuilds — [[graft.operators.ArtifactCache.ensureBuilds]]
    * delta), leaked persisted RDDs accumulating across the battery
    * (rdds — absolute count after the run), and old-gen pressure
    * (heapMb — used heap after the run). Recorded for EVERY query's
    * every timed run into BENCH_EVIDENCE.json (`run_metrics`), so the
    * next driver battery carries the adjudication data even if local
    * reproduction attempts stay flat. */
  private[graft] final case class RunMetrics(gcMs: Long, gcN: Long, jitMs: Long,
      rdds: Int, acBuilds: Long, heapMb: Long, cpuMs: Long, stealJ: Long,
      busyJ: Long) {
    def json: String =
      s"""{"gc_ms":$gcMs,"gc_n":$gcN,"jit_ms":$jitMs,"rdds":$rdds,""" +
        s""""ac_builds":$acBuilds,"heap_mb":$heapMb,"cpu_ms":$cpuMs,""" +
        s""""steal_j":$stealJ,"busy_j":$busyJ}"""
  }

  /** This JVM's cumulative process CPU time in ms (−1 off-HotSpot).
    * The external-stall discriminator: a run whose WALL time triples
    * while its process-CPU delta stays at the flat-run level was
    * starved by something outside the JVM (host steal, IO stall,
    * co-tenant burst) — real extra work scales CPU with wall. */
  private def processCpuMs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1000000L
      case _ => -1L
    }

  private def gcSnapshot(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  private def jitMillis(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  /** Time `body` [[Runs]] times; re-run while the spread exceeds
    * [[SpreadLimit]] (up to [[MaxExtraRuns]] extras). Returns ALL raw
    * times in run order — the caller medians and flags — plus one
    * [[RunMetrics]] per timed run.
    */
  /** One instrumented timed run — the per-run measurement of [[timed]]
    * factored out so [[BenchSf1]] attaches the SAME self-adjudicating
    * evidence (per-run gc/jit/heap/process-CPU/steal-busy jiffies) to
    * its rows: the instrumentation that adjudicated the sf0.1 spike
    * class (steal bursts invisible to window-average steal) applies to
    * the sf1 battery's flagged rows too. */
  private[graft] def instrumentedRun(body: () => Unit,
      rddCount: () => Int = () => -1): (Double, RunMetrics) = {
    val (gc0, gn0) = gcSnapshot()
    val jit0 = jitMillis()
    val ac0 = graft.operators.ArtifactCache.ensureBuilds.get()
    val cpu0 = processCpuMs()
    val j0 = cpuJiffies()
    val t0 = System.nanoTime()
    body()
    val sec = (System.nanoTime() - t0) / 1e9
    val (gc1, gn1) = gcSnapshot()
    val rt = Runtime.getRuntime
    val (stealJ, busyJ) = (for {
      (b0, s0, _) <- j0; (b1, s1, _) <- cpuJiffies()
    } yield (s1 - s0, b1 - b0)).getOrElse((-1L, -1L))
    (sec, RunMetrics(gc1 - gc0, gn1 - gn0, jitMillis() - jit0,
      rddCount(), graft.operators.ArtifactCache.ensureBuilds.get() - ac0,
      (rt.totalMemory() - rt.freeMemory()) >> 20,
      if (cpu0 < 0) -1L else processCpuMs() - cpu0, stealJ, busyJ))
  }

  private def timed(body: () => Unit, baseRuns: Int = Runs,
      warmups: Int = 1,
      rddCount: () => Int = () => -1): (Seq[Double], Seq[RunMetrics]) = {
    val metrics = scala.collection.mutable.ListBuffer.empty[RunMetrics]
    def once(): Double = {
      val (sec, rm) = instrumentedRun(body, rddCount)
      metrics += rm
      sec
    }
    // UNTIMED warm-up(s) per query before the timed runs — the
    // [[BenchSf1]] discipline, adopted here in r12: the r12 battery's
    // only remaining spread flags (q0 [2.6, 3.2, 1.5, …],
    // q_range_late [0.9, 1.4, 0.7, …]) were pure first-runs JIT noise —
    // run 2 still carries partially-compiled codegen, and skipping run
    // 1 in the spread check cannot see that. The median already
    // measured steady state; the warm-up makes the spread evidence
    // measure the same thing. Iterative queries (pagerank's 5-round
    // persist/unpersist loop) tier through C2 over several EXECUTIONS,
    // not one — they declare extra warm-ups via [[ExtraWarmups]]
    // (r12 evidence: [9.36, 11.14, 5.47, 4.13, 4.16, …] — three
    // executions before steady state).
    (1 to warmups).foreach(_ => body())
    // quiesce the heap before the timed window: a short query ran
    // mid-battery inherits the previous queries' garbage, and a major
    // GC pause landing inside one 0.5 s run triples it (the r12
    // q_window_range flag: [0.53, 0.53, 1.57, …]). An explicit collect
    // here moves that pause outside the measurement.
    System.gc()
    var times = Seq.fill(baseRuns)(once())
    var extra = 0
    while (!spreadOk(times) && extra < MaxExtraRuns) {
      times = times :+ once()
      extra += 1
    }
    (times, metrics.toSeq)
  }

  /** The headline q0 gets a wider base sample than the battery: it is
    * the single number compared against BASELINE.md, and a 3-run median
    * under a transiently dirty window once published 5.8 s for a
    * steady-state 1.6 s job ([3.7, 9.2, 5.8] passes the tail-spread
    * check). Seven runs cost ~10 s and make the median robust to two
    * contaminated runs instead of one.
    */
  private val HeadlineRuns = 7

  /** 1m/5m/15m load averages from /proc/loadavg (None off-Linux). */
  private def loadavg(): Option[Seq[Double]] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try Some(src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq)
      finally src.close()
    } catch { case _: Throwable => None }

  /** Cumulative (busy, steal, total) jiffies from /proc/stat. Steal is
    * CPU the HYPERVISOR withheld from this guest — loadavg cannot see
    * it (a 10× wall-time blowout can ride on loadavg ≈ 2), so the
    * artifact records the steal share over the bench window explicitly:
    * steal_pct near 0 means wall times are trustworthy; tens of percent
    * means the window was host-throttled and absolute numbers are
    * inflated regardless of how idle the guest itself was.
    */
  private[graft] def cpuJiffies(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal
        val steal = if (f.length > 7) f(7) else 0L
        val idle = f(3) + (if (f.length > 4) f(4) else 0L)
        val total = f.sum
        Some((total - idle - steal, steal, total))
      } finally src.close()
    } catch { case _: Throwable => None }

  private def jsonArr(xs: Seq[Double]): String =
    xs.map(x => f"$x%.3f").mkString("[", ",", "]")

  /** One full measurement pass over q0 + every query, with its own
    * load/steal window. */
  private final case class Attempt(
      results: Seq[(String, Seq[Double])], failed: Seq[String], skipped: Seq[String],
      loadBefore: Option[Seq[Double]], loadStarted: Option[Seq[Double]],
      loadAfter: Option[Seq[Double]], stealPct: Option[Double],
      runMetrics: Seq[(String, Seq[RunMetrics])])

  /** Steal above this share of non-idle CPU over the bench window makes
    * wall times incomparable (r9 shipped a 77.8%-steal artifact whose
    * 63 common queries slowed 1.7×–6.3× uniformly); such an attempt is
    * discarded and re-run, and a final still-contaminated attempt is
    * published with `steal_contaminated: true` and a NULL total so it
    * can never lock a round as comparable evidence.
    */
  private val StealLimitPct = 5.0
  private val MaxAttempts = 3
  private val RetryPauseMs = 90000L

  /** Battery-prefix replay mode (spike adjudication): with
    * SPARK_GRAFT_BENCH_THROUGH=<name> the battery runs exactly the
    * queries at or before <name> in battery (alphabetical) order —
    * the flagged query's full preceding context, nothing after — so a
    * battery-context-deterministic spike can be reproduced and pinned
    * without paying for the tail. Recorded in the evidence
    * (`bench_through`) so a truncated battery can never read as a full
    * one. */
  private val through = sys.env.get("SPARK_GRAFT_BENCH_THROUGH")

  /** Loadavg gate (r13 lesson): steal ≠ load — the r13 battery passed
    * the steal gate at 1.2% but STARTED at loadavg 4.1 and drifted +15%
    * uniformly vs r12, costing round-over-round comparability and
    * flagging one query's spread on ambient contention. So before any
    * measurement the bench WAITS for the 1-minute load to drop below
    * [[LoadGateMax]] (sampling every [[LoadGatePollMs]], up to
    * [[LoadGateWaitMs]]); if the box never goes idle the battery still
    * runs (refusing forever would ship no artifact at all) but records
    * `load_gate_passed: false` so the round can't silently read as
    * comparable. The idle reference (BENCH_IDLE.json) starts at 0.47.
    */
  private val LoadGateMax = 1.0
  private val LoadGatePollMs = 15000L
  private val LoadGateWaitMs = 600000L

  /** 5-minute gate (r15): the r14 battery PASSED the 1-minute gate at
    * 0.85 while the 15-minute load stood at 5.22 — the box had been
    * busy until moments before, and the battery drifted 1.08× median
    * vs r13 on the residue (cache/cgroup pressure the 1-minute average
    * is too fresh to see). The 5-minute average decays with ~5-minute
    * half-life, so gating it at a slightly looser bound forces a real
    * cool-down, not just a momentary dip. */
  private val LoadGateMax5 = 1.5

  /** Block until 1-minute loadavg < [[LoadGateMax]] AND 5-minute
    * loadavg < [[LoadGateMax5]], or the wait budget is spent. Returns
    * (passed, waitedSeconds, last1mLoad, last5mLoad). */
  private def loadGate(): (Boolean, Double, Double, Double) = {
    val t0 = System.nanoTime()
    def sample(): (Double, Double) =
      loadavg().map(l => (l.head, l(1))).getOrElse((0.0, 0.0))
    var (l1, l5) = sample()
    // dev smoke runs (format/field checks, not timing artifacts) skip
    // the wait — SELF-EVIDENCING: load_gate_passed still records the
    // true gate verdict, so a skipped-gate run can't read as comparable
    if (sys.env.contains("SPARK_GRAFT_SKIP_LOAD_GATE"))
      return (l1 < LoadGateMax && l5 < LoadGateMax5, 0.0, l1, l5)
    while ((l1 >= LoadGateMax || l5 >= LoadGateMax5) &&
        (System.nanoTime() - t0) < LoadGateWaitMs * 1000000L) {
      System.err.println(f"[bench] load gate: loadavg 1m $l1%.2f / 5m $l5%.2f " +
        f"(need < $LoadGateMax%.1f / < $LoadGateMax5%.1f) — waiting for an idle window")
      Thread.sleep(LoadGatePollMs)
      val s = sample(); l1 = s._1; l5 = s._2
    }
    (l1 < LoadGateMax && l5 < LoadGateMax5, (System.nanoTime() - t0) / 1e9, l1, l5)
  }

  private def measure(spark: SparkSession, sfDir: String): Attempt = {
    val loadBefore = loadavg()
    val jiffiesBefore = cpuJiffies()
    val loadStarted = loadavg()

    // a failed query is flagged explicitly and the headline total is
    // NULLED — a partially-failed run (fewer summed queries) must never
    // be comparable on its deflated total, even by a consumer that
    // ignores the `failed` array. Shared by q0 and the query loop so a
    // q0 failure nulls the total like any other.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val runMetrics =
      scala.collection.mutable.ListBuffer.empty[(String, Seq[RunMetrics])]
    val rddCount: () => Int = () => spark.sparkContext.getPersistentRDDs.size
    // a missing input is reported with its reason, never dropped silently
    val skipped = scala.collection.mutable.ListBuffer.empty[String]

    // apples-to-apples vs BASELINE.md: the reference's own workload
    // (355-file corpus -> 26 letter files), steady-state (session
    // already up). Reference: 12.41 s sequential / 1.40 s at (4,4).
    val indexBench: Seq[(String, Seq[Double])] = {
      val manifest = "/root/reference/checker/test.txt"
      if (new java.io.File(manifest).exists()) {
        try {
          // timed() owns the untimed warm-up (JIT + codegen compile are
          // one-time costs, excluded per BASELINE.md's steady-state
          // comparison) — no extra warm-up here
          def runIndex(): Unit = {
            val out = java.nio.file.Files.createTempDirectory("graft-bench-index")
            try graft.operators.InvertedIndexJob.run(spark, manifest, out.toString)
            finally graft.operators.ArtifactCache.deleteRecursively(out.toFile)
          }
          val (ts, ms) = timed(() => runIndex(), HeadlineRuns, rddCount = rddCount)
          runMetrics += "q0_index_corpus" -> ms
          Seq("q0_index_corpus" -> ts)
        } catch { case e: Throwable =>
          failed += "q0_index_corpus"
          System.err.println(s"[bench] q0_index_corpus failed: ${e.getMessage}")
          Seq.empty
        }
      } else {
        skipped += s"q0_index_corpus: manifest $manifest absent"
        Seq.empty
      }
    }

    val battery = {
      val all = SparkEntry.queries.toSeq.sortBy(_._1)
      through.fold(all)(t => all.filter(_._1 <= t))
    }
    val results: Seq[(String, Seq[Double])] =
      indexBench ++ battery.flatMap { case (name, fn) =>
        try {
          val (ts, ms) = timed(() =>
            fn(spark, sfDir).write.format("noop").mode("overwrite").save(),
            warmups = ExtraWarmups.getOrElse(name, 1), rddCount = rddCount)
          runMetrics += name -> ms
          Some(name -> ts)
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
    val loadAfter = loadavg()
    // steal share of all CPU time elapsing in this guest over the bench
    // window (stolen / (busy + stolen) — idle excluded so a mostly-idle
    // window with heavy steal still reads as throttled)
    val stealPct = for {
      (b0, s0, _) <- jiffiesBefore
      (b1, s1, _) <- cpuJiffies()
      if b1 - b0 + s1 - s0 > 0
    } yield 100.0 * (s1 - s0) / ((b1 - b0) + (s1 - s0)).toDouble
    Attempt(results, failed.toSeq, skipped.toSeq, loadBefore, loadStarted, loadAfter,
      stealPct, runMetrics.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = Runtime.getRuntime.availableProcessors()

    // load gate BEFORE any work (even session startup): wait for an
    // idle 1-minute loadavg so the battery starts comparable (see
    // [[loadGate]]); the steal gate below covers hypervisor throttling
    // the loadavg can't see
    val (loadGatePassed, loadGateWaited, loadGateLast, loadGateLast5) = loadGate()

    val spark = GraftSession.local(appName = "graft-bench")

    // steal gate: a host-throttled window is an environmental failure
    // of the ARTIFACT, not the code — discard and re-measure instead of
    // committing numbers that are uniformly 2-3× inflated.
    // SPARK_GRAFT_BENCH_MIN_ATTEMPTS forces extra attempts even on a
    // clean window (spike adjudication): the r17 battery that flagged
    // `q_media_dup_groups` was its ATTEMPT 2 — the whole suite had
    // already run once in the same JVM — and an attempt-1 replay
    // cannot reproduce attempt-2 heap/cache context
    val minAttemptsRequested = sys.env.get("SPARK_GRAFT_BENCH_MIN_ATTEMPTS")
      .map(_.toInt).getOrElse(1)
    // MaxAttempts clamps silently otherwise — an adjudication run
    // asking for 4+ would get 3 with no trace; warn loudly and record
    // the REQUESTED value in the evidence so the truncation is data
    if (minAttemptsRequested > MaxAttempts)
      System.err.println(s"[bench] MIN_ATTEMPTS=$minAttemptsRequested exceeds " +
        s"MaxAttempts=$MaxAttempts: clamping to $MaxAttempts (requested value " +
        "recorded in the evidence sidecar as attempts_requested)")
    val minAttempts = math.min(minAttemptsRequested, MaxAttempts)
    var att = measure(spark, sfDir)
    var attempts = 1
    while ((att.stealPct.exists(_ > StealLimitPct) || attempts < minAttempts)
        && attempts < MaxAttempts) {
      if (att.stealPct.exists(_ > StealLimitPct))
        System.err.println(f"[bench] attempt $attempts contaminated: " +
          f"cpu steal ${att.stealPct.get}%.1f%% > $StealLimitPct%.1f%% — " +
          "discarding run and retrying after a pause")
      else
        System.err.println(s"[bench] attempt $attempts clean but " +
          s"MIN_ATTEMPTS=$minAttempts forces a re-measure (adjudication mode)")
      Thread.sleep(RetryPauseMs)
      att = measure(spark, sfDir)
      attempts += 1
    }
    val stealContaminated = att.stealPct.exists(_ > StealLimitPct)
    if (stealContaminated)
      System.err.println(f"[bench] all $attempts attempts steal-contaminated " +
        f"(last ${att.stealPct.get}%.1f%%): publishing with null total")
    val Attempt(results, failedSeq, skipped, loadBefore, loadStarted, loadAfter,
      stealPct, runMetrics) = att
    skipped.foreach(r => System.err.println(s"[bench] skipped $r"))
    val failed = failedSeq

    val medians = results.map { case (k, ts) => k -> median(ts) }
    val qs = medians.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (k, ts) => "\"" + k + "\":" + jsonArr(ts) }
      .mkString("{", ",", "}")
    val spreadFlagged = results.collect { case (k, ts) if !spreadOk(ts) => k }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val spreadJson = spreadFlagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val totalJson =
      if (failed.nonEmpty || stealContaminated) "null"
      else f"${medians.map(_._2).sum}%.3f"
    def loadJson(l: Option[Seq[Double]]): String = l.map(jsonArr).getOrElse("null")
    val contended = loadBefore.exists(_.head > cores / 4.0)
    val stealJson = stealPct.map(p => f"$p%.1f").getOrElse("null")
    // `failed`/`spread_flagged` repeat here so the sidecar alone is
    // self-describing about coverage: `runs` omitting a query could
    // otherwise mean either "removed from suite" or "failed this run"
    val loadGateJson = f""""load_gate_passed":$loadGatePassed,"load_gate_waited_sec":$loadGateWaited%.0f,"load_gate_last":$loadGateLast%.2f,"load_gate_last5":$loadGateLast5%.2f"""
    // per-run environment deltas (see [[RunMetrics]]) — sidecar-only,
    // aligned 1:1 with each query's `runs` entries
    val metricsJson = runMetrics
      .map { case (k, ms) => "\"" + k + "\":" + ms.map(_.json)
        .mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val evidence = s"""{"evidence":"graft-bench","runs":$runsJson,"failed":$failedJson,"skipped":$skippedJson,"spread_flagged":$spreadJson,"loadavg_before":${loadJson(loadBefore)},"loadavg_started":${loadJson(loadStarted)},"loadavg_after":${loadJson(loadAfter)},"cpu_steal_pct":$stealJson,"steal_contaminated":$stealContaminated,$loadGateJson,"attempts":$attempts,"attempts_requested":$minAttemptsRequested,"cores":$cores,"sf":"$sfDir","bench_through":${through.map("\"" + _ + "\"").getOrElse("null")},"run_metrics":$metricsJson}"""
    // sidecar survives even if both stdout lines are clipped
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_EVIDENCE.json"),
        (evidence + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] evidence sidecar write failed: ${e.getMessage}")
    }
    println(evidence)
    // the driver contract line: compact and LAST so a stdout-tail
    // capture of any reasonable size keeps it whole (r6 lost the
    // headline to a single oversized line — never again)
    println(s"""{"metric":"total","value":$totalJson,"unit":"sec","timing":"median_of_runs_after_warmup","queries":$qs,"spread_flagged":$spreadJson,"failed":$failedJson,"skipped":$skippedJson,"contended_start":$contended,"cpu_steal_pct":$stealJson,"steal_contaminated":$stealContaminated,$loadGateJson,"attempts":$attempts,"cores":$cores,"sf":"$sfDir"}""")
    spark.stop()
    // a partially-failed bench must not look green to exit-code
    // automation (r8: 13 failed queries rode out under rc 0)
    if (failed.nonEmpty) sys.exit(1)
  }

}
