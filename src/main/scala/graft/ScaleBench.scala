package graft

/** Time-vs-scale-factor slope measurement over [[ScaleGen]]'s synthetic
  * series — the falsification harness for the catalog's 100 TB claims
  * (VERDICT r10 "What's missing" #2). Every expensive pipeline's plan is
  * argued linear-ish in SURVEY §8 / the operator docs; this main measures
  * it: for each query it reports seconds at each SF and the fitted
  * power-law exponent b in t ≈ a·SF^b (least squares on log t vs log SF).
  * b ≈ 1 is the linear scan-bound ideal; b well above ~1.3 on this range
  * is the first honest superlinear signal the harness can produce and
  * names the query that would melt first on a 1000-executor corpus.
  *
  * Results land in SCALING.md (hand-curated from this output) — the
  * committed artifact — and the raw JSON goes to `outFile` for the same
  * durability reason Bench writes BENCH_SELF.json (the driver wrapper
  * truncates long stdout lines).
  *
  * Usage: runMain graft.ScaleBench <outFile> [q=pfx1,pfx2] <sf>=<dir> ...
  *   e.g. runMain graft.ScaleBench measurements/scale/SCALE_SELF.json \
  *          0.1=scaledata/sf0.1 0.3=scaledata/sf0.3 1.0=scaledata/sf1
  *   the optional q= arg restricts to name prefixes (zipf-corpus runs
  *   time only t12*: the other queries' inputs are shape-identical there).
  *
  * Timing kernel is [[BenchSupport.once]] (noop sink, blocking cache
  * release) — same numbers Bench would print. min-of-3 after one warmup
  * at the SMALLEST dir in the series, so JVM/codegen startup is charged
  * to no one and page-cache state is comparable across SFs.
  */
object ScaleBench {

  /** The pipelines worth a slope: everything the r10 plan audit named
    * expensive (d6/p2/p3/d3/t12), every round-10 operator with a novel
    * shuffle shape (d8/e8/e10/t13), one representative per cheap family
    * (t1 scan-bound text, s1 brute ANN) as linear controls. Restricted
    * to queries over the three fact tables [[ScaleGen]] emits
    * (documents/events/embeddings) — the TPC-H q/x families read tables
    * the generator has no recipe for. */
  val Default: Seq[String] = Seq(
    "d1_dedup_exact", "d3_minhash_lsh", "d4_simhash", "d6_dup_clusters",
    "d8_segment_dedup", "e8_funnel", "e10_rolling_active",
    "p2_funnel_neardup", "p3_curation_v2", "s1_knn_brute",
    "t1_token_count", "t12_surprisal", "t12_surprisal_zipf",
    "t13_source_quota",
    // r12 (VERDICT r11 #3): every operator the r11 series left uncovered
    // — the admission gates (st7 was the one with the flagged bench
    // number), the span ladder (d10/d11/p4), the quality/mixture family
    // (d9/t15-t17), the multimodal scan kernels (m5/m6), x9's
    // sketch-vs-exact pair, and the composed ingest (st9)
    "d9_quality_canonical", "d10_dup_spans", "d11_span_removal",
    "d12_delta_neardup",
    "m5_resize_thumb", "m6_phash_neardup", "p4_policy_savings",
    "st7_quota_admitted", "st8_token_budget", "st9_ingest_admission",
    "t15_mixture_sample", "t16_split_leakage", "t17_novelty_score",
    "t18_pii_redaction", "x9_heavy_hitters", "s7_ann_ivfpq",
    // r12 late additions: m7's full-payload window scan, e11's
    // lag-window + matrix agg, s8's broadcast radius scan, and the
    // t19-t21 corpus-statistic trio (t20's pair explode and t21's
    // type-ownership agg are the two with real shuffle growth to watch)
    "m7_audio_energy", "e11_transition_matrix", "s8_radius_search",
    "t19_gopher_rules", "t20_bigram_lm", "t21_vocab_growth",
    // this session's additions: e12's per-user entropy rollup and
    // t22's intra-doc gram aggregation (its gram explode is the
    // volume to watch)
    "e12_journey_entropy", "t22_dup_ngrams",
    // r13: the semantic-dedup pair (the Σ|cell∩surv|² growth is the
    // thing to verify now that the codebook follows the fixed-target-
    // cell-size rule) — d13b is EXCLUDED by design: its 50%-dominant
    // cell is a correctness fixture with deliberately adversarial
    // blocking; the skew-corpus d13 run is the perf stress instead
    "d13_semantic_dedup", "p5_semantic_curation",
    "st10_semantic_admitted", "m8_frame_runs", "s9_lsh_assign",
    "e13_hourly_anomaly", "p6_pretrain_pipeline",
    "d14_soft_dedup_weights", "s10_probe_sweep",
    // r14: t23's explode volume is bigrams-per-corpus (linear); the
    // bounded 512-bucket feature table is the thing the slope verifies.
    // s11 is the mining ladder's exact tier — its |src|×|tgt| pair
    // matrix is the measured quadratic (the honest brute baseline, s1's
    // role; the production path blocks candidates via s3/s9 first)
    "t23_dsir_importance", "s11_bitext_margin",
    // r15: the assignVia pre-flight — its claim is CONSTANT cost at any
    // corpus size (idMix stride grows with N), which is exactly what a
    // slope row falsifies or proves
    "s12_assign_margin",
    // late r15: the capped-vs-uncapped assignment differential — its
    // capped half is the one linear-by-construction assignment; the
    // entry also carries the uncapped pick and the exact argmax, so its
    // own slope is dominated by those reference sides, not the cap
    "s13_lshcap_assign")

  def main(args: Array[String]): Unit = {
    val outFile = args(0)
    val prefixes = args.find(_.startsWith("q=")).map(_.drop(2).split(',').toSeq)
    val series = args.drop(1).filterNot(_.startsWith("q=")).map { a =>
      val Array(sf, dir) = a.split("=", 2)
      (sf.toDouble, dir)
    }.sortBy(_._1)
    require(series.nonEmpty, "need at least one sf=dir pair")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(Default.contains)
      .filter(n => prefixes.forall(_.exists(n.startsWith)))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = BenchSupport.session(cpus)

    // warmup: one pass of every query at the smallest SF
    names.foreach(BenchSupport.once(spark, _, series.head._2))

    // r15: release pinned SharedStage artifacts when LEAVING a dir —
    // within a dir the pins are the deliberate pipeline-stage reuse
    // (attempts 2-3 get the staged flags / cell index free, min-of-3
    // takes the cheap attempt exactly as before), but carrying BOTH
    // SFs' corpus-scale pins (staged flags + the N x 256-float cell
    // index per dir) through the deepest point is what tipped p6-exact
    // over at sf100 while a pin-free standalone run of the same query
    // completed. And take the min over the SUCCESSFUL attempts only: a
    // -1 sentinel used to poison the min even when another attempt
    // finished, reporting a measured point as a failure.
    val times: Map[String, Seq[(Double, Double)]] = names.map { name =>
      name -> series.toSeq.map { case (sf, dir) =>
        val ts = (1 to 3).map(_ => BenchSupport.once(spark, name, dir))
        SharedStage.release(spark)
        (sf, ts.filter(_ > 0) match {
          case ok if ok.nonEmpty => ok.min
          case _                 => -1.0
        })
      }
    }.toMap

    // least-squares slope of log t on log sf (the power-law exponent)
    def slope(pts: Seq[(Double, Double)]): Double = {
      val ok = pts.filter(_._2 > 0)
      if (ok.size < 2) Double.NaN
      else {
        val xs = ok.map(p => math.log(p._1))
        val ys = ok.map(p => math.log(p._2))
        val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
        val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
        val den = xs.map(x => (x - mx) * (x - mx)).sum
        num / den
      }
    }

    // the marginal slope over the LAST segment: the fitted exponent is
    // dragged toward 0 by Spark's fixed per-query floor (~0.1-0.2 s
    // scheduling + codegen) that dominates the small-SF points, so the
    // largest step is the honest at-scale signal — at 100 TB the floor
    // is noise and the tail slope is the growth law that matters
    def tail(pts: Seq[(Double, Double)]): Double = {
      val ok = pts.filter(_._2 > 0)
      if (ok.size < 2) Double.NaN
      else {
        val (s1, t1) = ok(ok.size - 2)
        val (s2, t2) = ok.last
        math.log(t2 / t1) / math.log(s2 / s1)
      }
    }
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else "%.4f".format(d)

    val header = series.map { case (sf, _) => f"sf$sf%-8s" }.mkString
    println(f"${"query"}%-24s $header ${"slope"}%8s ${"tail"}%8s   (sec, min-of-3)")
    val rows = names.map { name =>
      val pts = times(name)
      val (b, bt) = (slope(pts), tail(pts))
      val cells = pts.map { case (_, t) => f"$t%-10.3f" }.mkString
      println(f"$name%-24s $cells $b%8.2f $bt%8.2f")
      val ptsJson = pts.map { case (sf, t) => s""""$sf":$t""" }.mkString(",")
      s""""$name":{"sec":{$ptsJson},"slope":${num(b)},"tail_slope":${num(bt)}}"""
    }
    val json =
      s"""{"metric":"scale_slopes","cpus":$cpus,"series":[${series.map(_._1).mkString(",")}],"queries":{${rows.mkString(",")}}}"""
    println(json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
