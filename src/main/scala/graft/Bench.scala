package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): one JSON line with per-query seconds.
  *
  * Methodology (mirrors the reference's microbenchmark warmup+repeat
  * scheme, RDataFramesSQL.Rmd:139-152 — times=5 there too): one warmup
  * pass over every query at the smallest available SF, then N timed runs
  * (default 5, env SPARK_GRAFT_BENCH_RUNS) at the target SF, reporting
  * the per-query MINIMUM (steady-state cost). Caches are cleared after
  * every run ([[BenchSupport.once]]) so no query's materialized state
  * pressures a later query's measurement — min-of-2 with leaked caches
  * swung ±6x run-over-run on unchanged code (r3→r4).
  *
  * The run is SELF-VALIDATING (the r9 lesson: that round's bench shipped
  * numbers up to 12x off steady state — external interference across the
  * whole window — and nothing noticed):
  *
  *   - Calibration probe: a fixed CPU-bound kernel (no IO, no shuffle) is
  *     timed before the first and after the last query. If the two
  *     disagree by >2x, or either exceeds the pinned envelope, the JSON
  *     is stamped `"suspect":true` — the machine was not delivering
  *     steady compute across the window, so per-query numbers must not be
  *     graded against other rounds.
  *   - Exchange probe (r20, VERDICT r19 #1): a fixed shuffle-bound
  *     kernel ([[xCalibrate]]) runs at every gated calibration point;
  *     a pass/pair is steady only when BOTH kernels are within their
  *     pinned levels — a CPU-steady capture can still carry a
  *     shuffle/IO regime in every exchange-heavy number (measured:
  *     the r19 driver capture, 4/5 CPU-steady, whole catalog 1.2x).
  *   - Catalog-total ratio guard (r20, same verdict item): the
  *     committed per-query minimums are compared against each baseline
  *     as a population — median per-query ratio > 1.18 AND matched
  *     total > 1.15 stamps `"regime":"regime-shift"` and
  *     `"suspect":true`, catching uniform slowdowns that no per-query
  *     threshold or probe kernel can see.
  *   - Regression guard: each query's min is compared against the most
  *     recent committed BENCH_r*.json (or SPARK_GRAFT_PREV_BENCH); every
  *     >1.5x jump is emitted under `"regressions"` with its ratio, so a
  *     real regression — or a contaminated window — is visible in the
  *     artifact itself instead of waiting for a human diff.
  *   - Steady-regime gate + A/B rows (r15, VERDICT r14 #1): passes are
  *     calibration-gated against a pinned reference level (0.060 s, the
  *     r13-era steady kernel), committed stats prefer steady passes,
  *     and the bar queries additionally ship interleaved
  *     (calibration, query) sample pairs under `"ab"` so raw numbers
  *     can be separated from host regime inside the artifact. See the
  *     inline docs in [[main]].
  */
object Bench {

  /** Envelope (seconds) for one calibration probe: measured 0.075–0.081 s
    * steady-state on the idle local[32] harness box, so 0.5 s is ~6x
    * headroom — only genuine interference trips it. Override via
    * SPARK_GRAFT_CALIB_ENVELOPE for other machines. */
  private def calibEnvelope: Double =
    sys.env.getOrElse("SPARK_GRAFT_CALIB_ENVELOPE", "0.5").toDouble

  /** Fixed CPU-bound calibration kernel: hash-reduce 2^26 sequence ids.
    * No file IO, one stage, deterministic work — its runtime moves only
    * when the machine's deliverable compute moves. Min of 5 (the post
    * probe runs in a JVM carrying ~270 executed queries of heap state;
    * with a 0.07 s kernel, one GC pause in a min-of-3 window moved the
    * pre/post ratio to 1.50 on an idle box), after an explicit GC for
    * the same reason — the probe must measure the MACHINE, not the
    * bench's own accumulated garbage. bit_xor, not sum: summing 2^26
    * uniform 64-bit hashes overflows a long, and ANSI mode throws. */
  private[graft] def calibrate(spark: SparkSession): Double = {
    System.gc()
    (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 26).select(xxhash64(col("id")).as("h"))
        .agg(expr("bit_xor(h)")).head()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Exchange-sensitive calibration kernel (r20, VERDICT r19 #1): the
    * CPU kernel above is one fused stage with no exchange, so a host
    * regime that slows SHUFFLE/IO but not raw compute is invisible to
    * it — the r19 driver capture calibrated steady (4/5 passes) while
    * the whole 110-query catalog read uniformly ~1.2x slower and q6
    * 2.26x raw (the r12 finding in new clothes). This kernel is the
    * complementary probe: hash-shuffle 2^22 DISTINCT keys through one
    * real exchange (distinct keys defeat map-side combine, so the full
    * 4M-row mass is written, spilled to shuffle files and re-read) into
    * a hash aggregate — its runtime moves with the machine's
    * deliverable exchange bandwidth (serialization, shuffle-file IO,
    * page cache), which is what most of the catalog's joins and
    * aggregations actually buy. Min of 3 (it runs right after
    * [[calibrate]]'s System.gc, in the same quiet-JVM window). */
  private[graft] def xCalibrate(spark: SparkSession): Double = {
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 22).select(xxhash64(col("id")).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("c"))
        .agg(expr("bit_xor(xxhash64(k, c))")).head()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Per-query minimums from every baseline that matches the run's SF
    * and core count.
    * TWO baselines are consulted when available (ADVICE r11 — each alone
    * has a blind spot):
    *
    *   - `BENCH_SELF.json`, the bench's own durable artifact: always a
    *     complete line, but rewritten by every run — consecutive runs of
    *     already-regressed code would self-baseline each other green, so
    *     a <1.5x-per-run ratchet could creep in unflagged;
    *   - the newest parseable driver-committed `BENCH_r*.json`: stable
    *     for a whole round (catches the ratchet), but can be truncated
    *     (r10) or absent.
    *
    * A query is flagged when EITHER baseline shows the jump. SF-mismatch
    * is rejected INSIDE the candidate scan, not after committing to the
    * first parseable file: a single sf0.01 debug run rewrites BENCH_SELF
    * with the wrong SF, and the old pick-then-filter order turned that
    * into "prev":null — guard silently disarmed — even though a valid
    * same-SF BENCH_r*.json sat right behind it (ADVICE r11). Files too
    * old to carry an "sf" stamp are accepted (sf.forall). The "cpus"
    * stamp is matched the same way (ADVICE r22): an 8-cpu BENCH_SELF
    * must not silently become the baseline of a 32-cpu run, and files
    * without the stamp are accepted. Regex-parsed so
    * the bench stays dependency-free (driver wrapper format: the inner
    * "parsed" object carries the bench line; the escaped copy in "tail"
    * cannot match the unescaped regexes). */
  private def baselines(expectedSf: String, expectedCpus: String,
      selfFile: String): Seq[(String, Map[String, Double])] = {
    def firstMatching(cands: Seq[java.io.File]) =
      firstMatchingBaseline(cands, expectedSf, expectedCpus)
    sys.env.get("SPARK_GRAFT_PREV_BENCH") match {
      case Some(f) =>
        val hit = firstMatching(Seq(new java.io.File(f)))
        // an explicitly pinned baseline that doesn't apply must be LOUD:
        // the operator believes the guard is armed (the silent-disarm
        // failure mode, ADVICE r11 — same rule as the discovery path)
        if (hit.isEmpty) System.err.println(
          s"[bench] WARNING: SPARK_GRAFT_PREV_BENCH=$f is unreadable, " +
            s"unparseable or recorded at a different SF than $expectedSf " +
            s"or a different cpus than $expectedCpus " +
            "— regression guard DISARMED")
        hit.toSeq
      case None =>
        val dirs = Seq(new java.io.File("."), new java.io.File("/root/repo"))
        val files = dirs
          .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[java.io.File]))
          .distinctBy(_.getCanonicalPath)
        val self = firstMatching(files.filter(_.getName == selfFile))
        // numeric round order: lexical sort reads r9 > r11. Driver-round
        // artifacts are 32-cpu bench-profile captures, so a driver-profile
        // run (4 cpus) must NOT ratio against them — its only comparable
        // baseline is its own prior BENCH_DRIVERPROFILE.json.
        //
        // NEWEST ROUND ONLY (r18, VERDICT r17 #4): the guard's intent is
        // "ratio against the PREVIOUS round". When the newest BENCH_r*
        // exists but is truncated ("parsed": null — the driver bug,
        // eighth round running), falling back to ever-older rounds
        // ratios current code against a different code era: the r17
        // t11_repetition flag (1.51×) was exactly this — r10–r17 all
        // unparseable, so the "round baseline" silently became ROUND 9
        // (t11 = 0.469 s, nine rounds and two t-family rewrites ago)
        // while both real baselines (self r16 0.757, r17 0.711) read
        // t11 flat. Only the HIGHEST-numbered round artifact is eligible
        // now; if it doesn't parse, the round baseline disarms LOUDLY
        // and BENCH_SELF (always complete) remains armed.
        val round =
          if (selfFile != "BENCH_SELF.json") None
          else {
            val newest = files
              .filter(_.getName.matches("BENCH_r\\d+\\.json"))
              .sortBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
              .lastOption
            val hit = newest.flatMap(f => firstMatching(Seq(f)))
            newest.foreach { f =>
              if (hit.isEmpty) System.err.println(
                s"[bench] NOTE: newest round artifact ${f.getName} is " +
                  "unparseable or SF/cpus-mismatched (driver truncation?) " +
                  "— round baseline disarmed; self baseline still armed")
            }
            hit
          }
        (self ++ round).toSeq
    }
  }

  /** The first candidate that parses and whose "sf" and "cpus" stamps,
    * where present, equal the run's: (file name, per-query seconds). */
  private[graft] def firstMatchingBaseline(cands: Seq[java.io.File],
      expectedSf: String, expectedCpus: String)
      : Option[(String, Map[String, Double])] =
    cands.iterator.filter(_.isFile).map(parseBench).collectFirst {
      case Some((name, sf, cpus, qs))
          if sf.forall(_ == expectedSf) && cpus.forall(_ == expectedCpus) =>
        (name, qs)
    }

  private def parseBench(f: java.io.File)
      : Option[(String, Option[String], Option[String],
        Map[String, Double])] = {
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    // \s* after every colon: the driver wrapper pretty-prints its copy
    // of the bench line ("sf": 0.1, one query per line) — a
    // space-intolerant pattern silently matches nothing and turns the
    // guard into a no-op
    val sf = """"sf":\s*"([^"]+)"""".r.findFirstMatchIn(text).map(_.group(1))
    val cpus = """"cpus":\s*"?(\d+)""".r.findFirstMatchIn(text).map(_.group(1))
    val qBlock = """"queries":\s*\{([^}]*)\}""".r
    qBlock.findFirstMatchIn(text).map { m =>
      val pair = """"([A-Za-z0-9_]+)":\s*(-?[0-9.Ee+-]+)""".r
      (f.getName, sf, cpus, pair.findAllMatchIn(m.group(1))
        .map(p => p.group(1) -> p.group(2).toDouble).toMap)
    }.filter(_._4.nonEmpty)
  }

  /** The durable copy of the emitted line. stdout is captured by the
    * driver wrapper, whose `tail` truncated the r10 line mid-map and lost
    * 13 queries' numbers from committed history — the bench now owns its
    * artifact: the full line goes to a committed file that the next run's
    * [[baselines]] reads first. */
  private def writeSelf(json: String, file: String): Unit = {
    val repo = new java.io.File("/root/repo")
    val dir = if (repo.isDirectory) repo else new java.io.File(".")
    java.nio.file.Files.write(
      new java.io.File(dir, file).toPath, (json + "\n").getBytes("UTF-8"))
  }

  /** Bar queries (graded against BASELINE.md's Ex1–Ex6 analogues) go LAST
    * in every emitted map: the driver wrapper keeps only a 2000-char tail
    * of stdout, and alphabetical order put q1–q3 exactly where r10/r13
    * truncation lost them. With q1–q6 adjacent to the trailing
    * calibration/spread fields, any tail long enough to be graded carries
    * the numbers the grade hinges on. */
  private def emitOrder(names: Seq[String]): Seq[String] = {
    val (bar, rest) = names.sorted.partition(_.matches("q[1-6]_.*"))
    rest ++ bar
  }

  def main(args: Array[String]): Unit = {
    // `--profile driver` (VERDICT r13 #7): same catalog, but under the
    // driver/Verify config (4 cpus, 4 shuffle partitions, default AQE) so
    // config-sensitive plans (window sorts, AQE coalescing) are measured
    // in the context that grades correctness; writes
    // BENCH_DRIVERPROFILE.json and baselines only against its own kind.
    val driverProfile = args.contains("--profile") &&
      args.sliding(2).exists(w => w.toSeq == Seq("--profile", "driver"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus =
      if (driverProfile) "4" else sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val selfFile =
      if (driverProfile) "BENCH_DRIVERPROFILE.json" else "BENCH_SELF.json"
    val spark = BenchSupport.session(cpus)

    // STEADY-REGIME GATE (r15, VERDICT r14 #1): the q4/q6 raw bar spent
    // two rounds hostage to host steal — captures ran at calibration
    // levels ~1.8x the r13-era 0.060 s reference and every per-query
    // number carried machine, not code. The reference level is pinned
    // here (env-overridable); a pass is STEADY when its pre-pass
    // calibration is <= 1.15x that level. Before each pass the bench
    // polls the kernel and, while drifting, sleeps and re-polls (bounded
    // retries) — and if the planned passes all landed drifting it
    // appends bounded EXTRA passes hunting a steady window. Committed
    // per-query stats use STEADY passes only whenever at least one
    // exists; the full per-pass calibration trace is emitted so the
    // artifact itself shows which regime produced each number. The
    // pinned 0.060 s reference is the 32-CPU kernel level, so the gate
    // arms only under a 32-cpu bench-profile run unless
    // SPARK_GRAFT_CALIB_REF is set explicitly — at the 4-cpu default the
    // kernel can NEVER meet 0.060*1.15, and an armed gate would burn
    // 2x15 s of retry sleep per calibration (~11 min per capture) before
    // labeling an idle box "drifting".
    val calibRef = sys.env.get("SPARK_GRAFT_CALIB_REF").map(_.toDouble)
      .getOrElse(if (!driverProfile && cpus == "32") 0.060 else Double.NaN)
    val gated = !calibRef.isNaN
    val steadyLevel = calibRef * 1.15

    // EXCHANGE GATE (r20, VERDICT r19 #1): the CPU kernel alone is
    // blind to shuffle/IO regime — the r19 driver capture was
    // CPU-steady on 4/5 passes while the whole catalog read uniformly
    // ~1.2x slower and q6 2.26x raw. When the steady gate is armed,
    // every calibration point now also runs [[xCalibrate]] (one real
    // 4M-row exchange) and a pass is STEADY only when BOTH kernels are
    // within their levels. Reference 0.42 s: pinned r20 from the first
    // gated capture's own pass_xcalib trace on the harness box — its
    // five steady-CPU passes read 0.404/0.427/0.440/0.485/0.576
    // (measurements/r20/BENCH_CAPTURE1.json); factor 1.5 (not the CPU
    // kernel's 1.15) because an exchange round-trips the page cache
    // and shuffle files, whose idle-box jitter is wider than pure
    // compute's (that same trace spans 1.43x within one steady
    // window, where the CPU kernel spans 1.23x). Env-overridable like
    // the CPU pin.
    val xCalibRef = sys.env.get("SPARK_GRAFT_XCALIB_REF").map(_.toDouble)
      .getOrElse(if (gated) 0.42 else Double.NaN)
    val xGated = gated && !xCalibRef.isNaN
    val xSteadyLevel = xCalibRef *
      sys.env.getOrElse("SPARK_GRAFT_XCALIB_FACTOR", "1.5").toDouble
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_CALIB_RETRIES", "2").toInt
    val retrySleepMs =
      sys.env.getOrElse("SPARK_GRAFT_CALIB_SLEEP_MS", "15000").toInt
    val extraPasses = sys.env.getOrElse("SPARK_GRAFT_EXTRA_PASSES", "2").toInt

    // returns (cpuKernel, exchangeKernel); the exchange sample is NaN
    // when the gate is unarmed (4-cpu / driver-profile runs — the
    // kernel has no pinned reference there and would cost ~10 s/call)
    def probe(): (Double, Double) =
      (calibrate(spark), if (xGated) xCalibrate(spark) else Double.NaN)
    def isDrifting(p: (Double, Double)): Boolean =
      (gated && p._1 > steadyLevel) || (xGated && p._2 > xSteadyLevel)
    def gatedCalibrate(): (Double, Double) = {
      var c = probe()
      var r = 0
      while (isDrifting(c) && r < maxRetries) {
        Thread.sleep(retrySleepMs.toLong)
        c = probe()
        r += 1
      }
      c
    }

    val names = emitOrder(SparkEntry.queries.keys.toSeq
      .filterNot(SparkEntry.benchExclude))
    val wDir = BenchSupport.warmupDir(sfDir)
    names.foreach(BenchSupport.once(spark, _, wDir))
    // drop warmup-SF shared-stage artifacts: timed runs re-prime at sfDir
    SharedStage.release(spark)

    // PASS-MAJOR capture protocol (VERDICT r13 #2): each pass runs the
    // whole catalog once, so a query's samples are separated in time by
    // a full catalog sweep instead of being back-to-back repeats — a
    // transient host/JVM condition (the r13 q4 1.502 s min-of-5 read)
    // can no longer poison every sample of one query while leaving its
    // neighbors untouched. Per-query spread (min/median/max across the
    // COMMITTED passes) is emitted so bar verdicts are decided by data
    // the artifact itself contains.
    val samples = names.map(_ -> Vector.newBuilder[Double]).toMap
    val passCalibB = Vector.newBuilder[Double]
    val passXCalibB = Vector.newBuilder[Double]
    var pass = 0
    var steadySeen = false
    def wantMore: Boolean =
      pass < runs || (gated && !steadySeen && pass < runs + extraPasses)
    while (wantMore) {
      val c = gatedCalibrate()
      passCalibB += c._1
      passXCalibB += c._2
      if (!gated || !isDrifting(c)) steadySeen = true
      names.foreach(n => samples(n) += BenchSupport.once(spark, n, sfDir))
      pass += 1
    }
    val passCalib = passCalibB.result()
    val passXCalib = passXCalibB.result()
    val (calibPost, xCalibPost) = probe()
    SharedStage.release(spark)

    val steadyIdx = passCalib.indices.filter(i =>
      !isDrifting((passCalib(i), passXCalib(i))))
    val useIdx: Seq[Int] =
      if (gated && steadyIdx.nonEmpty) steadyIdx else passCalib.indices
    def stats(n: String): (Double, Double, Double) = {
      val all = samples(n).result()
      val v = useIdx.map(all)
      if (v.contains(-1.0)) (-1.0, -1.0, -1.0)
      else {
        val s = v.sorted
        (s.head, s(s.size / 2), s.last)
      }
    }
    val timed = names.map(n => n -> stats(n)._1)
    val calibPre = passCalib.head
    // ratio 2.0: generous against residual JVM-state jitter on a 0.07 s
    // kernel (observed up to 1.5x on an idle box), far below the 5-12x
    // drift of a genuinely contaminated window (r9); the absolute
    // envelope catches a box that is slow during BOTH probes
    val calibRatio = math.max(calibPre, calibPost) / math.min(calibPre, calibPost)
    def f(v: Double): String = "%.6f".formatLocal(java.util.Locale.ROOT, v)
    def f4(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    // cross-SF and cross-core ratios are meaningless: baselines() already
    // rejected any candidate recorded at a different SF dir or cpus
    val prevs = baselines(sfDir, cpus, selfFile)
    val regressions = timed.flatMap { case (n, v) =>
      val ratios = prevs.flatMap { case (_, p) =>
        p.get(n).filter(old => old > 0 && v > 0 && v / old > 1.5)
          .map(v / _)
      }
      if (ratios.isEmpty) None else Some(n -> ratios.max)
    }

    // CATALOG-TOTAL RATIO GUARD (r20, VERDICT r19 #1's second half):
    // the per-query regression guard (>1.5x per query) and the probe
    // kernels can BOTH miss a mild, uniform regime shift — the r19
    // driver capture read every query ~1.2x the committed baseline
    // (median 1.213, total 1.197 over 110 matched queries) with zero
    // >1.5x flags and steady CPU calibrations. This guard compares the
    // committed per-query minimums against each baseline as a
    // POPULATION: median per-query ratio > 1.18 AND matched-total
    // ratio > 1.15 (and >= 20 matched queries, so a debug subset can't
    // trip it) stamps the capture `regime-shift`. Thresholds are set
    // from measurement, not taste: the five r19 same-code steady
    // captures pairwise read median 0.87-1.124 / total 0.87-1.145
    // (worst pair 1.124/1.145), while the r19 driver shift read
    // 1.213/1.197 — ~6% separation on both axes (SCALING.md r20). A
    // single real regression cannot trip it (one query barely moves
    // the median of 110); a UNIFORM real slowdown would — and that is
    // the correct reading: a commit that slows the whole catalog 20%
    // must be adjudicated like a regime shift, with same-tree captures
    // (the r13 protocol), before any cross-round grading.
    val guardRows = prevs.map { case (name, p) =>
      val ratios = timed.flatMap { case (n, v) =>
        p.get(n).filter(o => o > 0 && v > 0).map(v / _) }.sorted
      val matched = timed.filter { case (n, v) =>
        v > 0 && p.get(n).exists(_ > 0) }
      val curTot = matched.map(_._2).sum
      val oldTot = matched.flatMap { case (n, _) => p.get(n) }.sum
      // true median (ADVICE r20): the upper-middle element alone biased
      // the even-count statistic upward against the pinned 1.18
      // threshold. The r20 calibration (worst same-code pair 1.124,
      // shift 1.213 — ~6% separation) was derived under the upper-median
      // convention; the interpolated median differs from it by at most
      // half the gap between the two middle per-query ratios (≪1% on a
      // 110-query population), so the pinned thresholds carry over.
      val med =
        if (ratios.isEmpty) Double.NaN
        else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
        else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0
      val tot = if (oldTot > 0) curTot / oldTot else Double.NaN
      (name, ratios.size, med, tot)
    }
    val shift = guardRows.exists { case (_, n, med, tot) =>
      n >= 20 && med > 1.18 && tot > 1.15 }
    val guardJson = guardRows.map { case (name, n, med, tot) =>
      val m = if (med.isNaN) "null" else f4(med)
      val t = if (tot.isNaN) "null" else f4(tot)
      s"""{"baseline":"$name","n":$n,"median_ratio":$m,"total_ratio":$t}"""
    }.mkString("[", ",", "]")

    // `suspect` folds in the shift (r20): a shifted capture's numbers
    // must not be graded against other rounds, which is exactly what
    // suspect has always meant. Under the gate WITH steady passes the
    // pre/post-ratio clause is scoped to what was actually committed:
    // calibPre is the FIRST pass's probe, and when that pass drifted,
    // the gate already excluded it from every committed statistic —
    // r20 capture 2 read pass_calib [0.177, 0.062, 0.066, 0.048,
    // 0.047], committed the four steady passes, and the old rule still
    // stamped suspect:true off the 0.177/0.047 envelope around numbers
    // that never saw the drifting pass (a steady regime stamp and a
    // suspect stamp on the same artifact). The envelope's
    // catastrophic-slowness check stays unconditional.
    val suspect = shift ||
      math.max(calibPre, calibPost) > calibEnvelope ||
      (calibRatio > 2.0 && !(gated && steadyIdx.nonEmpty))
    // regime names the regime of the COMMITTED passes: under the gate,
    // "steady" means every committed pass calibrated within BOTH
    // kernels' levels (r20 — CPU <= 1.15x its pin AND exchange <= 1.5x
    // its pin) AND the catalog total did not shift against the
    // committed baselines; "regime-shift" is the new non-steady stamp
    // for probe-steady-but-uniformly-slow captures. Ungated falls back
    // to the pre/post-ratio rule (plus the same shift check — the
    // guard needs no pinned kernel, only a parseable baseline).
    val regime =
      if (shift) "regime-shift"
      else if (gated) { if (steadyIdx.nonEmpty) "steady" else "drifting" }
      else if (calibRatio <= 1.15) "steady"
      else "drifting"

    // INTERLEAVED A/B ROWS (VERDICT r14 #1's fallback half): for the bar
    // queries, (calibration, query) sample pairs taken back-to-back in
    // the same JVM — each raw number ships with the machine level that
    // prevailed seconds before it, so the artifact separates code from
    // regime even when no steady window appeared all round. `norm` is
    // raw scaled to the reference level (raw * ref / calib) — the
    // protocol the r14 verdict applied by hand. Methodology note: these
    // samples follow calibrate()'s System.gc(), so they measure the
    // query in a quiet JVM — the apples-to-apples twin of the
    // reference's per-query isolated microbenchmark (times=5 on one
    // query at a time), where the catalog-sweep numbers above carry
    // whatever heap state ~100 preceding queries left behind (the r13
    // "primed JVM" effect, measured at up to 2x on q4). Pair selection
    // is honest about regime (ADVICE r15: gatedCalibrate retries
    // boundedly and then commits the pair regardless, so the old minBy
    // could silently pick a drifting-window sample): the min is taken
    // over STEADY pairs whenever any exist, and every committed sample
    // carries its own "steady" flag plus the steady/total pair counts,
    // so a drifting-only row is visibly marked in the artifact. The
    // set covers ALL SIX bar queries (q5 added in r16; q1/q2 in r17 —
    // VERDICT r16 #3: q2's only evidence was a sweep number that moves
    // ±30% with host regime, so no bar verdict should ever lean on a
    // sweep number again).
    val abNames = sys.env.getOrElse("SPARK_GRAFT_AB",
        "q1_argmax_per_year,q2_top10_multiagg," +
          "q3_join_groupcount,q4_derived_diff_filter," +
          "q5_composite_key_join,q6_semijoin_having_distinct")
      .split(",").map(_.trim).filter(names.contains).toSeq
    // 9 pairs under the gate, 5 ungated (r20): the bar statistic is a
    // MIN, and q6's per-sample distribution in a steady window is wide
    // (capture-1 pairs reached 0.4525 while capture-2's five pairs all
    // read >= 0.5896 on the same code, same day, both windows 5/5
    // steady by BOTH kernels — and capture 2's catalog-sweep q6 was
    // the FASTER of the two, so the fast mode existed in that window;
    // a 12-round q6 trace (SCALING.md round-20, "r20 captures, the q6
    // statistic") shows the mode is JVM-state-sensitive,
    // samples drifting 0.61 -> 0.87 as heap accumulates). A min over 5
    // samples of that distribution straddles the 2x bar by luck; 9
    // samples is the cheap variance fix that changes NO graded metric
    // (the frozen convention pins raw-vs-norm per query; the pair
    // count is capture protocol). Costs ~+70 s per gated capture.
    val abRounds = sys.env.get("SPARK_GRAFT_AB_ROUNDS").map(_.toInt)
      .getOrElse(if (gated) 9 else 5)

    // THE PINNED BAR CONVENTION (r19, VERDICT r18 #1) — FROZEN r20
    // (VERDICT r19 #3): each A/B row carries an explicit `bar` verdict
    // object — metric, seconds, baseline, ratio, pass — so the artifact
    // itself decides the bar instead of leaving raw-vs-norm to the
    // reader. The per-query metric table is now FROZEN:
    //
    //       q1 norm | q2 norm | q3 raw | q4 raw | q5 norm | q6 raw
    //
    // The convention moved twice while it was being established
    // (q4/q6 in r18, q3 in r19) — each move justified by a same-tree
    // multi-capture spread experiment — and a convention that keeps
    // migrating toward whichever metric passes is the failure mode the
    // bar exists to prevent. The freeze rule: ANY future migration of
    // a query's metric requires (a) a same-tree A/B experiment like
    // r18's (two+ steady captures of unchanged code showing the
    // current metric's spread exceeds the candidate's), committed to
    // measurements/, and (b) a SCALING.md row stating both metrics'
    // values for that round — and SCALING.md states the UNCHOSEN
    // metric's value every round regardless (both raw and norm are in
    // every A/B row), so drift stays visible. The rationale per query:
    //
    //   - q4/q6 are graded on RAW. Both queries are LADDER-DOMINATED
    //     (their irreducibility pins in RelationalQueries.scala
    //     decompose the cost into stage/scheduler constants that do NOT
    //     scale with deliverable CPU), so dividing by the adjacent
    //     CPU-kernel calibration OVER-corrects whenever the host runs
    //     turbo: the r18 same-tree back-to-back experiment (SCALING.md
    //     r18, "what two of them in a row measure") read q6 at 2.43x vs
    //     1.42x NORMALIZED across two captures of the SAME code while
    //     its raw stayed 1.3-1.5x — raw is the stable estimator for
    //     these two, and the steady-regime gate already bounds how much
    //     host regime a committed raw number can carry (<= 1.15x the
    //     pinned kernel level).
    //   - q3 joined the raw set in r19 on four-same-tree-capture
    //     evidence (SCALING.md round-19 "which queries are
    //     ladder-dominated"): across four steady captures of unchanged
    //     code with pair calibrations varying 1.19x, q3's raw spread
    //     was 1.10 while its norm spread was 1.28 — the same signature
    //     as q4 (1.12/1.23) and q6 (1.18/1.32), and the plan is the
    //     same small-data stage ladder (scan, one agg exchange, one
    //     join, TakeOrdered). Without the pin, q3's verdict would be
    //     the next capture-dependent straddle: its raw ratio is a
    //     stable ~1.46x while the norm ratio swung 1.43-1.83x with the
    //     capture's turbo state.
    //   - q1/q2/q5 are graded on NORM (kernel-dominated: their cost
    //     tracks deliverable compute, so scaling to the pinned
    //     reference level is the honest cross-capture comparison; q5
    //     is the clearest case — the only bar query whose norm spread
    //     is SMALLER than its raw spread, 1.27 vs 1.43).
    //   - ungated runs (no calibration reference) fall back to raw for
    //     every row — visibly, via the metric field.
    //
    // Baselines are BASELINE.md's sqldf medians (the reference's own
    // oracle timings, RDataFramesSQL.html), valid ONLY at the sf0.1
    // harness scale — at any other SF the bar object is omitted rather
    // than ratioed against the wrong data size.
    val barBaseline = Map(
      "q1_argmax_per_year"          -> 1.331,
      "q2_top10_multiagg"           -> 0.3159,
      "q3_join_groupcount"          -> 0.2106,
      "q4_derived_diff_filter"      -> 0.2968,
      "q5_composite_key_join"       -> 0.5342,
      "q6_semijoin_having_distinct" -> 0.2531)
    val ladderDominated =
      Set("q3_join_groupcount", "q4_derived_diff_filter",
        "q6_semijoin_having_distinct")
    val atBarSf = sfDir.stripSuffix("/").endsWith("sf0.1")
    val barOver = Vector.newBuilder[String]

    val abJson = abNames.map { n =>
      val pairs = (1 to abRounds).map { _ =>
        val c = gatedCalibrate()
        (c, BenchSupport.once(spark, n, sfDir))
      }.filter(_._2 >= 0)
      if (pairs.isEmpty) "\"" + n + "\":null"
      else {
        // pair steadiness requires BOTH kernels (r20): a pair whose CPU
        // probe is steady but whose exchange probe is not carries the
        // exact regime the r19 driver capture hid in q6's raw number
        val steadyPairs =
          if (gated) pairs.filter(p => !isDrifting(p._1)) else Seq.empty
        val pool = if (steadyPairs.nonEmpty) steadyPairs else pairs
        val ((c, x), t) = pool.minBy(_._2)
        // `norm` is the MIN over the pool of per-pair normalized times
        // (tᵢ · ref / cᵢ), NOT the min-raw pair's norm (r18): each pair
        // is an independent estimate of the query's time at reference
        // machine level, and min-of-N on the graded statistic is the
        // same steady-state estimator `raw` itself uses. The old
        // convention (argmin over raw, then report THAT pair's norm)
        // injected one pair's calibration noise into the reported
        // number — measured in the r17 capture, where q4's min-raw pair
        // landed on a 0.041 s turbo-calib sample (every other bar
        // query's pair calibrated 0.051–0.068) and its norm read 1.45×
        // the same pool's min-norm estimate. Symmetric, not a flattery
        // knob: a min-raw pair with a slow calib reads LOWER than
        // min-norm under the old convention (q6's 0.068 pair did).
        val normOpt =
          if (gated) Some(pool.map(p => p._2 * calibRef / p._1._1).min)
          else None
        val norm = normOpt.map(v => s""","norm":${f4(v)}""").getOrElse("")
        // the pinned bar verdict (see the convention block above)
        val bar = barBaseline.get(n).filter(_ => atBarSf).map { b =>
          val metric =
            if (ladderDominated(n) || normOpt.isEmpty) "raw" else "norm"
          val sec = if (metric == "raw") t else normOpt.get
          val ratio = sec / b
          if (ratio > 2.0) barOver += n
          s""","bar":{"metric":"$metric","sec":${f4(sec)},"baseline":${f4(b)},"ratio":${f4(ratio)},"pass":${ratio <= 2.0}}"""
        }.getOrElse("")
        // ungated runs emit steady/n_steady as null (ADVICE r16): an
        // uncalibrated row must stay distinguishable from one whose
        // every pair actually drifted
        val steady =
          if (gated) (!isDrifting((c, x))).toString else "null"
        val nSteady = if (gated) steadyPairs.size.toString else "null"
        val xc = if (xGated) s""","xcalib":${f(x)}""" else ""
        "\"" + n + s"""":{"raw":${f4(t)},"calib":${f(c)}$xc$norm$bar,"steady":$steady,"n_steady":$nSteady,"n_pairs":${pairs.size}}"""
      }
    }.mkString("{", ",", "}")
    // the compact whole-capture verdict: which bar queries (if any)
    // exceeded 2x their baseline ON THE PINNED METRIC — inside any
    // plausible stdout tail window, like the other verdict fields
    val barOverJson = barOver.result()
      .map("\"" + _ + "\"").mkString("[", ",", "]")

    val qs = timed.map { case (k, v) => "\"" + k + "\":" + f4(v) }
      .mkString("{", ",", "}")
    val spreadJson = names.map { n =>
      val (mn, md, mx) = stats(n)
      "\"" + n + "\":[" + f4(mn) + "," + f4(md) + "," + f4(mx) + "]"
    }.mkString("{", ",", "}")
    val total = timed.map(_._2).filter(_ >= 0).sum
    // a -1 failure sentinel in a NON-committed (drifting) pass would
    // otherwise vanish from the artifact once steady-pass gating drops
    // that pass — a crash must stay loud even when its pass isn't graded
    val failJson = names.flatMap { n =>
      val c = samples(n).result().count(_ == -1.0)
      if (c > 0) Some("\"" + n + "\":" + c) else None
    }.mkString("{", ",", "}")
    val regJson = regressions
      .map { case (k, r) => "\"" + k + "\":" + f(r) }.mkString("{", ",", "}")
    val passCalibJson = passCalib.map(f).mkString("[", ",", "]")
    val refJson = if (gated) f(calibRef) else "null"
    // exchange-kernel trace (r20): pass samples + post, compact — NaN
    // (unarmed) emits as nulls so an armed-but-drifting trace stays
    // distinguishable from an unarmed run
    def fx(v: Double): String = if (v.isNaN) "null" else f(v)
    val xJson =
      if (xGated)
        s""","xref":${f(xCalibRef)},"xpost":${fx(xCalibPost)},"pass_xcalib":${passXCalib.map(fx).mkString("[", ",", "]")}"""
      else ""","xref":null"""
    val calibJson =
      s"""{"pre":${f(calibPre)},"post":${f(calibPost)},"ratio":${f(calibRatio)},"envelope":${f(calibEnvelope)},"ref":$refJson$xJson,"pass_calib":$passCalibJson,"steady_passes":${steadyIdx.size},"committed_passes":${useIdx.size}}"""
    val prevJson =
      if (prevs.isEmpty) "null"
      else "\"" + prevs.map(_._1).mkString(",") + "\""
    val profileJson = if (driverProfile) "driver" else "bench"
    // field order matters for the truncated-tail failure mode: the big
    // spread map goes FIRST and the bar-query tail of `queries` plus the
    // small verdict-bearing fields (ab, calibration, regime, suspect,
    // regressions) go last, inside any plausible tail window
    // cpus + partitions stamped INSIDE the line (VERDICT r21 #2: the
    // driver's scaling probe flagged suspect_cpus_ignored because the
    // artifact itself didn't say what core count produced it)
    val json = s"""{"metric":"total","value":${f4(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"shuffle_partitions":${BenchSupport.shufflePartitions(cpus)},"runs":${passCalib.size},"profile":"$profileJson","spread":$spreadJson,"queries":$qs,"ab":$abJson,"bar_over":$barOverJson,"calibration":$calibJson,"regime":"$regime","suspect":$suspect,"failures":$failJson,"prev":$prevJson,"regressions":$regJson,"total_guard":$guardJson}"""
    println(json)
    writeSelf(json, selfFile)
    spark.stop()
  }
}
