package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — prints one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR, and writes the same JSON to `BENCH.json` in the
  * current directory so the full map survives any stdout truncation.
  *
  *   runMain graft.Bench [prefix,…]
  *
  * times every SparkEntry key, or only those whose names start with one
  * of the comma-separated prefixes (the filter `Verify` and `PlanDump`
  * share). Its [[median]], [[millis]] and [[timedNoop]] are the timing
  * helpers of both measurement mains, this one and `graft.Scaling`.
  *
  * Measurement protocol (round 5, amended round 6): every query is timed
  * as the MEDIAN of `SPARK_GRAFT_BENCH_ITERS` (default 3) back-to-back
  * runs at the bench scale, after one untimed warm-up at the sf0.001
  * sibling of the bench directory. A single-iteration bench in a shared
  * JVM swings with GC pauses, JIT recompilation, and whatever the
  * previous query left in the allocator — round 4 measured 15×
  * run-to-run deltas on identical code. The warm-up compiles exactly the
  * same whole-stage-codegen classes the measured runs use (generated
  * code is keyed on plan shape, not input size), so one-time Janino
  * compilation (5-10 s for the widest aggregations) is excluded
  * everywhere, and the median discards the one-off outlier iterations
  * that a mean would absorb.
  *
  * Round-6 changes:
  *   - cpus default is 32, matching the stated bench contract
  *     (local[32], 32-core host). The original stub's default of 4
  *     silently quartered every CPU-bound query — rounds ≤5 reported
  *     d2_minhash_lsh at 7.75 s that is ~2.1 s on the contract
  *     configuration. `SPARK_GRAFT_CPUS` still overrides.
  *   - a query that THROWS during a timed run is reported under
  *     `"errors"` (exception class + message) and excluded from
  *     `"queries"` and the total, instead of contributing a bogus
  *     near-zero timing.
  *   - the headline `"metric"/"value"` pair leads the line and the big
  *     per-query map trails it, so a truncated capture still carries the
  *     totals; the full line is also written to BENCH.json.
  *
  * Round-8 changes (load-aware measurement):
  *   - `clearCache()` runs OUTSIDE the timed window. Previously each
  *     sample's elapsed time included cache teardown — small and uniform,
  *     but it padded every median.
  *   - the artifact carries a `"load"` object: the OS 1-minute load
  *     average sampled before and after the query sweep, plus a
  *     fixed-work single-thread CPU calibration probe (10^8 iterations
  *     of an FNV-style mixing loop) timed before and after. On an idle
  *     host of this class the probe runs in ~0.19 s; a probe above
  *     `CalibrationBoundSec` (0.5 s, ~2.6× idle) marks the run
  *     `"degraded": true`. Round 7 burned a diagnosis cycle on a 349.7 s
  *     bench that was a loaded-host artifact, not a regression — with
  *     these fields a consumer can tell the two apart from the JSON
  *     alone, and normalize per-query numbers by the probe ratio.
  */
object Bench {
  /** Median of `xs` (the mean of the middle two for an even count). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `d` rounded to millis: every second and ratio the mains publish. */
  def millis(d: Double): Double = math.rint(d * 1000) / 1000

  /** `SPARK_GRAFT_BENCH_ITERS` (default 3, at least 1): the timed runs
    * behind each median, in Bench and Scaling alike. */
  def envIters: Int =
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt)

  /** The sf0.001 sibling of `sfDir` (or `sfDir` itself when it has
    * none): the untimed warm-up compiles the same whole-stage-codegen
    * classes as the timed runs (generated code is keyed on plan shape,
    * not input size), so no timed run pays Janino compilation. */
  def warmDirOf(sfDir: String): String =
    Option(java.nio.file.Paths.get(sfDir).getParent).map(_.resolve("sf0.001"))
      .filter(java.nio.file.Files.isDirectory(_)).fold(sfDir)(_.toString)

  /** One timed run: the wall seconds of evaluating `df` and draining it
    * into the noop sink, and what it threw. `df` is by-name, so a
    * builder call passed here pays its DAG build inside the window,
    * while a frame bound beforehand times the drain alone. The noop
    * sink evaluates every output row and column; a count() would let
    * Catalyst prune unreferenced projections, so projection-heavy
    * queries would be timed as little more than a scan. The session's
    * caches are cleared after the window: a cache must not subsidize a
    * later run, and its teardown is not the query's cost (round 8). */
  def timedNoop(spark: SparkSession)(df: => DataFrame): (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    val err = try { df.write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    (sec, err)
  }

  /** Degraded-run threshold for [[calibrationSec]]: ~2.6× the ~0.19 s an
    * idle 32-core bench host measures. A host loaded enough to distort
    * query timings by the 3-5× seen in the round-7 driver capture blows
    * well past this; normal JIT/GC jitter does not.
    */
  val CalibrationBoundSec = 0.5

  /** Post-sweep retry pass (round 10): three rounds running, a
    * SUSTAINED load window inflated individual queries while both
    * min-of-3 and the sweep-level calibration probe stayed clean (the
    * load spanned all iterations of the affected queries but not the
    * probes). The bench now self-defends: any query whose median
    * exceeds [[RetryFactor]]× its own min by more than
    * [[RetryFloorSec]] gets ONE quiet re-run after the sweep, published
    * under `"queries_retry"`; if a retry lands back near the min (the
    * original median was load, not work), the artifact's `degraded`
    * flag upgrades to true. The retry happens minutes after the
    * original samples — a transient window has usually passed — so
    * consumers get both numbers and a verdict instead of a
    * load-artifact masquerading as a regression. */
  val RetryFactor = 2.0

  /** Absolute slack below which a median/min (or median/retry) gap is
    * noise, not load: sub-0.2 s queries jitter at 2× routinely. */
  val RetryFloorSec = 0.2

  /** Is this (median, min) pair suspicious enough to earn a re-run? */
  def retrySuspect(median: Double, min: Double): Boolean =
    median > RetryFactor * min && median - min > RetryFloorSec

  /** Does the retry CONFIRM the median was load-inflated? True when the
    * quiet re-run lands a factor below the recorded median — the work
    * is identical, so the difference was outside interference. */
  def retryDisagrees(median: Double, retry: Double): Boolean =
    median > RetryFactor * retry && median - retry > RetryFloorSec

  /** The SYMMETRIC suspicion (round 14): the retry itself lands a
    * factor ABOVE the median it was meant to check. Round 13's driver
    * capture published d4_ngram_jaccard at 76.3 s in `queries_retry`
    * against its own 8.7 s median (3.7 s clean) under
    * `retry_degraded: false` — the retry pass only voted when the
    * retry was FASTER than the median, so a load window that hit the
    * retry instead of the sweep published a contradiction the flag
    * never saw. Work is identical across runs either way: a 2×+ gap in
    * EITHER direction is outside interference, not measurement. */
  def retrySlow(median: Double, retry: Double): Boolean =
    retry > RetryFactor * median && retry - median > RetryFloorSec

  /** Decide a slow retry's fate ([[retrySlow]] fired): re-probe
    * calibration first — a dirty probe means the host is loaded RIGHT
    * NOW, so the slow number is a load artifact and votes degraded
    * without wasting a re-run under the same window. A clean probe
    * earns ONE more quiet run: if that still lands [[retrySlow]]-far
    * above the median, the samples disagree irreconcilably under clean
    * probes (multi-core contention the single-thread probe cannot see,
    * the r11 window's shape) and the run votes degraded; a re-run back
    * near the median publishes normally — and if it lands a factor
    * BELOW, the standard [[retryDisagrees]] vote still applies
    * downstream. Returns (publishSec, failed, degradedVote). A failed
    * re-run publishes null via the existing failed-retry convention
    * and never votes. */
  def slowRetryVerdict(median: Double, first: Double, probeSec: Double,
      rerun: () => (Double, Boolean)): (Double, Boolean, Boolean) =
    if (probeSec > CalibrationBoundSec) (first, false, true)
    else {
      val (sec2, failed2) = rerun()
      (sec2, failed2, !failed2 && retrySlow(median, sec2))
    }

  /** `queries_retry` fragment + the degraded vote, from retry outcomes
    * `(name, median, retrySec, failed)`. A retry that THREW publishes
    * `null` — its time-to-failure is not a measurement — and never
    * votes on `degraded` (a fast failure would read as a tiny retry and
    * flip the flag on a bogus number). */
  def retryJsonAndDegraded(
      retries: Seq[(String, Double, Double, Boolean)]): (String, Boolean) = {
    val degraded = retries.exists {
      case (_, med, r, failed) => !failed && retryDisagrees(med, r)
    }
    val json =
      if (retries.isEmpty) ""
      else retries.map { case (n, _, r, failed) =>
        "\"" + n + "\":" + (if (failed) "null" else r.toString)
      }.mkString(""","queries_retry":{""", ",", "}")
    (json, degraded)
  }

  /** Fixed-work single-thread CPU probe: 10^8 iterations of an FNV-style
    * 64-bit mixing loop, timed. Pure ALU work, no allocation — measures
    * available CPU, not memory bandwidth. The fold on `h` keeps the loop
    * live against dead-code elimination.
    */
  def calibrationSec(iters: Int = 100000000): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) { h ^= i; h *= 0x100000001B3L; h ^= (h >>> 31); i += 1 }
    if (h == 42L) print("") // never true for this seed; defeats DCE
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-work PARALLEL CPU probe (round 11): [[calibrationSec]]'s loop
    * run simultaneously on `threads` JVM threads, wall time of the
    * slowest. This host class is 32 physical cores without SMT, so idle
    * the par probe ≈ the single-thread probe; under MULTI-CORE
    * contention (co-tenant stealing cores, cgroup CPU throttling) it
    * rises while the single-thread probe stays flat — exactly the
    * failure mode the round-11 close measured: all 154 r10-shared keys
    * uniformly 1.3–1.4× the judge's idle capture with cal_start/end
    * pinned at 0.19 s. The par/single ratio is the parallel-headroom
    * stamp that makes such a window attributable from the JSON alone.
    */
  def calibrationParSec(
      threads: Int = Runtime.getRuntime.availableProcessors,
      iters: Int = 100000000): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { k =>
      new Thread(() => {
        var h = 0x9E3779B97F4A7C15L + k
        var i = 0
        while (i < iters) { h ^= i; h *= 0x100000001B3L; h ^= (h >>> 31); i += 1 }
        if (h == 42L) print("")
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-query window probe (round 17, the r16 verdict's "stamp
    * integrates the window" item): a 1/10-scale par/single probe pair
    * run right after EACH query's timed iterations, so the sweep
    * carries ~192 contention samples distributed across the window the
    * queries actually ran in, instead of two endpoint samples that a
    * swinging hypervisor-steal window can dodge (the r16 close stamped
    * `degraded: false, par 1.289` while its shared-key median ran 1.27×
    * the r15 clean capture). ~45 ms per probe pair ≈ 9 s per sweep,
    * all OUTSIDE the timed windows. Published as the informational
    * `"probe_ratio"` object (med/p90/max/n_hot); the DEGRADED vote
    * stays with the full-size endpoint probes — mini probes carry
    * thread-start overhead that would need its own calibrated bound. */
  def miniProbeRatio(): Double = {
    val s = calibrationSec(10000000)
    if (s <= 0) -1.0 else calibrationParSec(iters = 10000000) / s
  }

  /** The `"probe_ratio"` fragment from the per-query mini-probe samples:
    * median, p90, max, and the count above [[CalParRatioBound]]. Empty
    * string when no samples were taken (e.g. a zero-query run). */
  def probeRatioJson(samples: Seq[Double]): String = {
    val xs = samples.filter(_ > 0).sorted
    if (xs.isEmpty) ""
    else {
      val p90 = xs(math.min(xs.size - 1, (xs.size * 9) / 10))
      val hot = xs.count(_ > CalParRatioBound)
      s""","probe_ratio":{"med":${millis(median(xs))},"p90":${millis(p90)},""" +
        s""""max":${millis(xs.last)},"n":${xs.size},"n_hot":$hot}"""
    }
  }

  /** Family key of a query name: the leading letters of its prefix
    * ("a10_grouping_sets" → "a", "ivm9_composed_topk" → "ivm"). Used
    * only for the summary line's per-family subtotals. */
  def familyOf(name: String): String = {
    val pre = name.takeWhile(_ != '_').takeWhile(!_.isDigit)
    if (pre.isEmpty) name else pre
  }

  /** The compact summary line printed AFTER the full artifact line
    * (round 17, the r16 verdict's item 2): the driver's capture keeps
    * only a ~2000-char stdout tail, which the ~8 KB 192-query line has
    * outrun every round since r12 — five rounds of `parsed: null`. This
    * line is guaranteed to fit the tail: totals, counts, the degraded
    * stamp, the e2e walls, and per-FAMILY subtotals (~30 families)
    * instead of per-query seconds. It deliberately does NOT start with
    * '{' (prefixed `BENCH-SUMMARY `): a scanner looking for the
    * contract line must keep matching the full line, which also still
    * lands in BENCH.json in full. */
  def summaryLine(total: Double, n: Int, nErrors: Int, nRetry: Int,
      degraded: Boolean, parRatio: Double,
      e2eSec: Option[Double], trainSec: Option[Double],
      queries: Seq[(String, Double)], cpus: Int, iters: Int,
      sf: String): String = {
    val fams = queries.groupBy(q => familyOf(q._1)).toSeq.sortBy(_._1)
      .map { case (f, qs) => "\"" + f + "\":" + millis(qs.map(_._2).sum) }
      .mkString("{", ",", "}")
    val e2e = e2eSec.fold("")(s => s""","e2e_sec":${millis(s)}""")
    val train = trainSec.fold("")(s => s""","e2e_train_sec":${millis(s)}""")
    s"""BENCH-SUMMARY {"metric":"total","value":${millis(total)},"unit":"sec",""" +
      s""""n":$n,"n_errors":$nErrors,"n_retry":$nRetry,""" +
      s""""degraded":$degraded,"cal_par_ratio":${millis(parRatio)}""" +
      e2e + train +
      s""","families":$fams,"cpus":$cpus,"iters":$iters,"sf":"$sf"}"""
  }

  /** The per-query `"queries"`/`"queries_min"` fragment (round 9):
    * alongside each query's MEDIAN, the artifact carries the MIN of the
    * same iterations. The round-8 sweep-level calibration probe bounds
    * SUSTAINED load but ran clean (0.228 s) while individual queries
    * still absorbed transient spikes (h1 5.09 s driver vs 0.96 s judge).
    * The min is the transient detector a consumer can apply per query:
    * a median far above its own min means some iterations were hit by
    * outside load (the work is identical across iterations), so a
    * single-query outlier in a driver run is self-identifying from the
    * JSON alone — no judge re-run needed. Values rounded to millis.
    */
  def queryStatsJson(stats: Seq[(String, Double, Double)]): String = {
    def m(sel: ((String, Double, Double)) => Double) =
      stats.map(s => "\"" + s._1 + "\":" + millis(sel(s)))
        .mkString("{", ",", "}")
    s""""queries":${m(_._2)},"queries_min":${m(_._3)}"""
  }

  /** The mechanical parallel-headroom stamp (round 12): mean par probe
    * over mean single probe. Idle on this host class (32 cores, no SMT)
    * the ratio ≈ 1.0; the round-11 contention window read 1.5–2.2×. A
    * consumer normalizes shared-key totals by this ratio instead of
    * eyeballing four probe fields — the r11 drift diagnosis, made a
    * field. -1 when the par probes were not measured. */
  def calParRatio(calStart: Double, calEnd: Double,
                  calParStart: Double, calParEnd: Double): Double =
    if (calParStart < 0 || calParEnd < 0 || calStart <= 0 || calEnd <= 0) -1.0
    else (calParStart + calParEnd) / (calStart + calEnd)

  /** Degraded bound for [[calParRatio]] (round 14 — the par probe's
    * vote, now that an idle baseline is COMMITTED for this host
    * class): the r13 and r14 clean closing captures read 1.137 and
    * 1.155; every capture this round's attribution calls contended
    * read 1.75–2.24 (and the r11 contention window 1.5–2.2). 1.6
    * sits between the regimes with margin on both sides — multi-core
    * contention the single-thread probe cannot see now flips
    * `degraded` instead of hiding in an informational field. The -1
    * not-measured sentinel never votes. */
  val CalParRatioBound = 1.6

  /** The `"load"` fragment of the bench artifact, factored out so the
    * spec can assert its shape without a full bench run. Negative load
    * averages (the MXBean's "unavailable" sentinel) are passed through
    * as-is — a consumer can distinguish "idle" from "unknown".
    */
  def loadJson(avgStart: Double, avgEnd: Double,
               calStart: Double, calEnd: Double,
               retryDegraded: Boolean = false,
               calParStart: Double = -1.0, calParEnd: Double = -1.0): String = {
    val parRatio = calParRatio(calStart, calEnd, calParStart, calParEnd)
    val degraded = calStart > CalibrationBoundSec ||
      calEnd > CalibrationBoundSec || retryDegraded ||
      parRatio > CalParRatioBound // -1 sentinel never votes
    s""""load":{"avg_start":${millis(avgStart)},"avg_end":${millis(avgEnd)},""" +
      s""""cal_start_sec":${millis(calStart)},"cal_end_sec":${millis(calEnd)},""" +
      s""""cal_par_start_sec":${millis(calParStart)},"cal_par_end_sec":${millis(calParEnd)},""" +
      s""""cal_par_ratio":${millis(parRatio)},""" +
      s""""cal_bound_sec":$CalibrationBoundSec,""" +
      s""""cal_par_ratio_bound":$CalParRatioBound,""" +
      s""""retry_degraded":$retryDegraded,"degraded":$degraded}"""
  }

  /** Wrap an e2e result body with its own load stamp (round 14): the
    * e2e blocks used to publish a bare wall time, so a loaded-host
    * capture (r13 driver: 43.8 s migration vs 8.9 s clean) was only
    * diagnosable by cross-referencing the sweep-level load block —
    * which brackets the WHOLE run, not the e2e's own window. Each
    * fragment now carries the same load/calibration object, sampled
    * immediately around its own drain. */
  def e2eFragment(name: String, body: String, loadFrag: String): String =
    s""","$name":{$body,$loadFrag}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.GraftSession.envCpus
    val iters = envIters
    val warmDir = warmDirOf(sfDir)
    val spark = graft.core.GraftSession.local()
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    calibrationSec() // JIT warm-up; first probe compiles the loop
    val calStart = calibrationSec()
    // par probe gets its own warm-up: the loop bodies are fresh Thread
    // lambdas, so without it cal_par_start pays interpreter/OSR-compile
    // cost on every thread and reads high vs cal_par_end (the r11
    // artifact showed 0.324 start vs 0.282 end — exactly this bias)
    calibrationParSec(2)
    val calParStart = calibrationParSec()
    val loadStart = osBean.getSystemLoadAverage
    // warm the JVM/codegen path so the first measured query isn't
    // charged for session startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    // ~192 contention samples spread across the sweep (see
    // miniProbeRatio) — taken OUTSIDE every timed window
    val probeRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
    val outcomes = SparkEntry.selected(args.headOption).map { case (name, fn) =>
      timedNoop(spark)(fn(spark, warmDir)) // untimed codegen warm-up
      val runs = (1 to iters).map(_ => timedNoop(spark)(fn(spark, sfDir)))
      val err = runs.flatMap(_._2).lastOption.map(e =>
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
      val samples = runs.map(_._1)
      probeRatios += miniProbeRatio()
      (name, millis(median(samples)), samples.min, err)
    }
    // full JSON string escape (shared table): Spark exception messages
    // are routinely multi-line, and a raw control char inside the
    // one-line artifact makes strict parsers reject all of BENCH.json
    def esc(s: String) = graft.core.JsonText.escape(s)
    val ok = outcomes.collect { case (n, sec, mn, None) => (n, sec, mn) }
    val errs = outcomes.collect { case (n, _, _, Some(e)) => n -> e }
    // post-sweep retry: queries whose median blew past their own min
    // get one quiet re-measure now that the sweep (and any transient
    // load window riding it) is over — see RetryFactor's scaladoc
    val retriesFull = ok.collect { case (name, med, mn) if retrySuspect(med, mn) =>
      // a THROWING re-run must not publish its time-to-failure: a fast
      // failure looks like a tiny retry value, retryDisagrees reads it
      // as proof of load, and degraded flips true on a bogus number.
      // Failed retries publish null and never vote on degraded.
      def once(): (Double, Boolean) = {
        val (sec, err) = timedNoop(spark)(SparkEntry.queries(name)(spark, sfDir))
        (millis(sec), err.isDefined)
      }
      val (sec1, failed1) = once()
      if (failed1 || !retrySlow(med, sec1))
        (name, med, sec1, failed1, false)
      else {
        // symmetric self-defense (round 14): the retry itself blew past
        // the median — probe, maybe re-run, maybe vote (see
        // slowRetryVerdict). The r13 d4 shape: 76.3 s retry vs 8.7 s
        // median published under retry_degraded:false.
        val (sec, failed, slowVote) =
          slowRetryVerdict(med, sec1, calibrationSec(), once)
        (name, med, sec, failed, slowVote)
      }
    }
    val retries = retriesFull.map(t => (t._1, t._2, t._3, t._4))
    val (retryJson, retryFastDegraded) = retryJsonAndDegraded(retries)
    val retryDegraded = retryFastDegraded || retriesFull.exists(_._5)
    val qs = queryStatsJson(ok)
    val es = errs.map { case (k, e) => "\"" + k + "\":\"" + esc(e) + "\"" }
      .mkString("{", ",", "}")
    val total = millis(ok.map(_._2).sum)
    // full-pipeline wall time (ddl drop + data/DVT drop over the 8
    // tables) vs the reference's 660 s data-migration allowance — the
    // only absolute numbers BASELINE.md publishes. One run, timed
    // drains only (fixture staging is untimed); not part of "value",
    // which stays comparable across rounds. SPARK_GRAFT_E2E=0 skips.
    // staging roots hold full copies of the bench tables — delete or
    // repeated runs fill /tmp. The walk stream owns directory handles
    // (close it), and a cleanup failure must never mask the outcome.
    def deleteRecursively(root: java.nio.file.Path): Unit =
      try {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(root)
        val entries =
          try walk.iterator().asScala.toSeq finally walk.close()
        entries.reverse.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p) catch {
            case _: Exception => () })
      } catch { case _: Exception => () }
    // each e2e block samples its OWN load window (round 14): loadavg +
    // single-thread calibration probe immediately before and after the
    // drain, emitted as a nested "load" object via loadJson — so a
    // contended e2e number self-identifies without cross-referencing
    // the sweep-level block (whose probes bracket the whole run)
    def timedE2e(name: String, tmpPrefix: String)(
        body: String => String): String = {
      val root = java.nio.file.Files.createTempDirectory(tmpPrefix)
      try {
        val a0 = osBean.getSystemLoadAverage
        val c0 = calibrationSec()
        val b = body(root.toString)
        val a1 = osBean.getSystemLoadAverage
        val c1 = calibrationSec()
        e2eFragment(name, b, loadJson(a0, a1, c0, c1))
      } catch {
        case e: Throwable =>
          s""","$name":{"error":"${esc(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(160))}"}"""
      } finally deleteRecursively(root)
    }
    var e2eSecOpt: Option[Double] = None
    var trainSecOpt: Option[Double] = None
    val e2eJson =
      if (sys.env.get("SPARK_GRAFT_E2E").contains("0")) ""
      else timedE2e("e2e", "graft-e2e") { root =>
        val r = graft.pipeline.E2ePipeline.run(spark, sfDir, root)
        e2eSecOpt = Some(r.totalSec)
        s""""sec":${millis(r.totalSec)},"ddl_sec":${millis(r.ddlSec)},""" +
          s""""data_dvt_sec":${millis(r.dataSec)},"tables":${graft.pipeline.E2ePipeline.TableKeys.size},""" +
          s""""validations":${r.validations},"report_rows":${r.reportRows},""" +
          s""""all_success":${r.allSuccess}"""
      }
    // training-data curation flow (quality → segment dedup → exact +
    // near dedup → decontam → split → LM gate → perceptron gate →
    // upsample → interleave → length batches → shard export), the
    // LLM-pipeline twin of the migration e2e. Same env gate; wall
    // time + the full attrition funnel.
    val trainJson =
      if (sys.env.get("SPARK_GRAFT_E2E").contains("0")) ""
      else timedE2e("e2e_train", "graft-e2e-train") { root =>
        val r = graft.pipeline.TrainPipeline.run(spark, sfDir, root)
        trainSecOpt = Some(r.totalSec)
        s""""sec":${millis(r.totalSec)},"rows_in":${r.rowsIn},""" +
          s""""after_quality":${r.afterQuality},"segments_in":${r.segmentsIn},""" +
          s""""segments_kept":${r.segmentsKept},"after_exact":${r.afterExact},""" +
          s""""after_image_dedup":${r.afterImageDedup},"after_near_dup":${r.afterNearDup},""" +
          s""""after_decontam":${r.afterDecontam},""" +
          s""""after_lm_gate":${r.afterLmGate},"after_pt_gate":${r.afterPtGate},""" +
          s""""train_rows":${r.trainRows},"upsampled_rows":${r.upsampledRows},""" +
          s""""batches":${r.batches},"shards":${r.shards},""" +
          // per-stage wall attribution (r17): the funnel published row
          // counts but no times, so optimization rounds could not see
          // which stage dominates the 14+ s wall
          r.stageWalls.map { case (n, s) => "\"" + n + "\":" + millis(s) }
            .mkString(""""stage_walls":{""", ",", "}")
      }
    val loadEnd = osBean.getSystemLoadAverage
    val calEnd = calibrationSec()
    val calParEnd = calibrationParSec()
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"cpus":$cpus,"sf":"$sfDir",""" +
        loadJson(loadStart, loadEnd, calStart, calEnd, retryDegraded,
          calParStart, calParEnd) +
        probeRatioJson(probeRatios.toSeq) +
        s""","errors":$es,$qs$retryJson$e2eJson$trainJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.json"), line + "\n")
    println(line)
    // compact tail-proof summary (see summaryLine's scaladoc): the full
    // line above stays the contract line and BENCH.json carries it all
    val degradedNow = calStart > CalibrationBoundSec ||
      calEnd > CalibrationBoundSec || retryDegraded ||
      calParRatio(calStart, calEnd, calParStart, calParEnd) > CalParRatioBound
    println(summaryLine(total, ok.size, errs.size, retries.size,
      degradedNow, calParRatio(calStart, calEnd, calParStart, calParEnd),
      e2eSecOpt, trainSecOpt, ok.map(o => (o._1, o._2)), cpus, iters, sfDir))
    spark.stop()
  }
}
