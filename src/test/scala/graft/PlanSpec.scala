package graft

import graft.queries.{Analytics, Dedup, EventQueries, RelationalQueries, Similarity, StreamingCatalog, TextAnalysis}

/** Physical-plan shape assertions — the 100 TB posture checks. A query
  * that silently stops pushing its filter or broadcasting its tiny side
  * still returns correct rows at sf0.01; these specs are what notice. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q3: status filter is pushed into the orders parquet scan") {
    val p = plan(RelationalQueries.q3JoinGroupCount(spark, sfDir))
    // the scan's PushedFilters must carry the literal predicate (the join
    // adds its own IsNotNull entries alongside)
    assert(p.contains("EqualTo(o_orderstatus,F)"), s"missing pushdown in:\n$p")
  }

  test("q4: the plan is sort-free — hash aggregate + shuffled hash join, " +
       "no WindowExec and no SMJ/window sort of lineitem (the r14 shape; " +
       "the sort was the driver-context 1.5 s cliff, VERDICT r13 #1)") {
    val p = plan(RelationalQueries.q4DerivedDiffFilter(spark, sfDir))
    assert(p.contains("ShuffledHashJoin"),
      s"q4 lost its shuffled-hash-join shape in:\n$p")
    assert(!p.contains("Window"), s"WindowExec crept back into q4:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q4 join degraded to SMJ:\n$p")
    // the only Sort allowed is the final ORDER BY on the filtered output
    val sorts = p.linesIterator.count(_.trim.matches(".*\\bSort \\[.*"))
    assert(sorts <= 1, s"expected at most the output ORDER BY sort, got $sorts in:\n$p")
  }

  test("e2: user filter is pushed into the events parquet scan") {
    val p = plan(EventQueries.e2RollingValue(spark, sfDir))
    assert(p.contains("LessThan(user_id,5)"), s"missing pushdown in:\n$p")
  }

  test("t1: documents scan is pruned to the used columns only") {
    val p = plan(TextAnalysis.t1TokenCount(spark, sfDir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text")
      && readSchema.contains("n_chars"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unused columns not pruned: $readSchema")
  }

  test("s1: tiny query set is broadcast, not shuffled") {
    val p = plan(Similarity.s1KnnBrute(spark, sfDir))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast in:\n$p")
  }

  test("d1: dedup needs exactly one exchange (hash partition on fingerprint)") {
    val p = plan(Dedup.d1DedupExact(spark, sfDir))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$p")
  }

  test("st1: streaming dedup's batch half needs exactly one hash exchange " +
       "(window on the fingerprint, same key the streaming state shuffles)") {
    val p = plan(StreamingCatalog.st1DedupFirstSeen(spark, sfDir))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$p")
  }

  test("st3: the Bloom probe stays inside whole-stage codegen (no UDF in " +
       "the scan->probe hot path)") {
    val p = plan(graft.streaming.StreamingOps.contaminationScreen(
      graft.sources.Tables.documents(spark, sfDir).select("doc_id", "text"),
      graft.sources.Tables.documents(spark, sfDir).select("doc_id", "text")
        .limit(50)))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"probe must not fall out of codegen into a UDF:\n$p")
    // the probing Project must sit INSIDE a whole-stage-codegen span (the
    // `*(n)` marker) — an interpreted fallback loses the marker
    val probeLine = p.linesIterator
      .find(_.contains("bloom_hit_count")).getOrElse("")
    assert(probeLine.replaceFirst("^[\\s+-]*", "").startsWith("*("),
      s"bloom_hit_count fell out of codegen:\n$p")
  }

  test("x1 rollup: all levels computed in ONE exchange (Expand, not N passes)") {
    val p = plan(Analytics.x1Rollup(spark, sfDir))
    assert(p.contains("Expand"), s"rollup should plan an Expand node:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$p")
  }

  test("e1: events scan prunes to the used columns (no value/props read)") {
    val p = plan(EventQueries.e1UserJourney(spark, sfDir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("value") && !readSchema.contains("props"),
      s"unused columns not pruned: $readSchema")
  }

  test("x2: set-op branches share ONE aggregate exchange (ReusedExchange)") {
    // the x2 rewrite exists to replace r4's cached cohort tables with
    // plan-level exchange reuse; this is what notices if it regresses.
    // AQE hides reuse inside AdaptiveSparkPlan until execution — disable
    // it so the static plan shows the ReusedExchange nodes.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(Analytics.x2SetOps(spark, sfDir))
      assert(p.contains("ReusedExchange"), s"no exchange reuse in:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("e7: the range join is a banded HASH join, never a nested loop") {
    // banding exists precisely so the point-in-interval predicate rides
    // an equi-join; a refactor that drops the bucket key silently turns
    // this into BroadcastNestedLoopJoin — correct rows, quadratic scan
    val p = plan(EventQueries.e7RangeJoin(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"no hash join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
  }

  test("x3: the HLL partial aggregate is keyed per status, never per customer") {
    // the r8 fix: fusing countDistinct with approx_count_distinct made
    // Spark build one sketch per DISTINCT CUSTOMER; pin that the sketch
    // aggregate's keys no longer include the customer key
    val p = plan(Analytics.x3ApproxDistinct(spark, sfDir))
    val sketchAggs = p.linesIterator
      .filter(_.contains("partial_approx_count_distinct")).toSeq
    assert(sketchAggs.nonEmpty, s"no partial sketch aggregate in:\n$p")
    sketchAggs.foreach { line =>
      val keys = line.substring(0, line.indexOf("functions="))
      assert(!keys.contains("o_custkey"),
        s"sketch partial agg keyed by customer again:\n$line")
    }
  }

  test("e8: the funnel is ONE hash exchange on user_id (collect + state " +
       "machine; no second shuffle before the output sort)") {
    val p = plan(EventQueries.e8Funnel(spark, sfDir))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$p")
  }

  test("e9: cohort retention reads the events ONCE (window formulation; " +
       "the join formulation plans a scan per branch)") {
    val p = plan(EventQueries.e9CohortRetention(spark, sfDir))
    val scans = p.linesIterator.count(l => l.contains("FileScan parquet") ||
      l.trim.startsWith("Scan parquet") || l.contains("+- Scan parquet"))
    assert(scans == 1, s"expected 1 scan, got $scans in:\n$p")
  }

  test("t13: the quota rank filter plans as a PARTIAL WindowGroupLimit " +
       "below the exchange (map-side top-N; the corpus never sorts whole)") {
    val p = plan(TextAnalysis.t13SourceQuota(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
    val partialBelowExchange = p.linesIterator
      .dropWhile(l => !l.contains("Exchange hashpartitioning"))
      .exists(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(partialBelowExchange,
      s"no map-side (Partial) WindowGroupLimit under the exchange in:\n$p")
  }

  test("d8: segment fingerprints shuffle exactly twice (dedup window + " +
       "doc profile); the document text itself never reaches an exchange") {
    val p = plan(Dedup.d8SegmentDedup(spark, sfDir))
    val exchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.length == 2,
      s"expected 2 hash exchanges, got ${exchanges.length} in:\n$p")
    assert(!exchanges.exists(_.contains("text#")),
      s"document text crossed an exchange in:\n$p")
  }

  test("t12 zipf: the head vocab resolves by BROADCAST and only the tail " +
       "by shuffle (Zipf split: hot pair rows never reach the lookup exchange)") {
    val p = plan(TextAnalysis.t12SurprisalZipf(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"head vocab not broadcast-joined in:\n$p")
    // the tail lookup is hint-pinned to a shuffle join — at corpus scale
    // the tail vocab (billions of cold types) can never be broadcast, and
    // the pin keeps the test-scale plan in the 100 TB shape
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"tail vocab join lost its shuffle shape in:\n$p")
  }

  test("t25: the harness-vocab dictionary joins by BROADCAST under the " +
       "size gate; pinned shuffle mode plans a ShuffledHashJoin with no " +
       "sort of the exploded corpus (the open-vocab 10⁹-word shape)") {
    val p = plan(TextAnalysis.t25BpeEncode(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"harness dictionary not broadcast-joined in:\n$p")
    // a 0-row broadcast cap takes the size gate's shuffle branch
    val ps = plan(TextAnalysis.t25BpeEncode(spark, sfDir, 0L))
    assert(ps.contains("ShuffledHashJoin"),
      s"shuffle mode lost its hash-join shape in:\n$ps")
    assert(!ps.contains("SortMergeJoin"),
      s"dictionary join degraded to sort-merge in:\n$ps")
  }

  test("t15: the 20-row sampling plan reaches the scan by BROADCAST — " +
       "the corpus is never shuffled to meet its own thresholds") {
    val p = plan(TextAnalysis.t15MixtureSample(spark, sfDir))
    assert(p.contains("BroadcastExchange"), s"plan not broadcast in:\n$p")
    // pass 2's corpus side must not hash-shuffle into the threshold join:
    // the only exchanges are the two tiny per-source aggs' partials
    assert(!p.contains("SortMergeJoin"),
      s"threshold join degraded to sort-merge in:\n$p")
  }

  test("s6: the label pre-filter joins broadcast-side, same shape as s1") {
    val p = plan(Similarity.queries("s6_filtered_knn")(spark, sfDir))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"filtered knn lost its broadcast shape in:\n$p")
  }

  test("st8 batch half: the token budget plans as a running-sum window — " +
       "zero object serde (the r11 handler shape is gone from the batch " +
       "path)") {
    val p = plan(StreamingCatalog.st8TokenBudget(spark, sfDir))
    assert(p.contains("Window"), s"no WindowExec in:\n$p")
    for (bad <- Seq("MapGroups", "AppendColumns", "SerializeFromObject"))
      assert(!p.contains(bad),
        s"$bad in the batch plan — the window branch was not taken:\n$p")
  }

  test("st9 batch half: the fused admission gate is the prefix-window " +
       "formulation and the Bloom screen rides it with no serde and no " +
       "UDF") {
    val p = plan(StreamingCatalog.st9IngestAdmission(spark, sfDir))
    assert(p.contains("Window"), s"no WindowExec in:\n$p")
    assert(p.contains("bloom_hit_count"), s"screen probe missing in:\n$p")
    for (bad <- Seq("MapGroups", "AppendColumns", "SerializeFromObject",
        "BatchEvalPython", "ScalaUDF"))
      assert(!p.contains(bad), s"$bad in the batch plan:\n$p")
  }

  test("d11: the stitch is pure array arithmetic on the documents scan — " +
       "no Generate anywhere (spans come from the materialized d10 " +
       "artifact; words never become rows)") {
    val p = plan(Dedup.d11SpanRemoval(spark, sfDir))
    val gens = p.linesIterator.count(_.trim.stripPrefix("+- ").stripPrefix("*(")
      .contains("Generate "))
    assert(gens == 0, s"expected 0 Generate nodes, got $gens in:\n$p")
  }

  test("t22: gram hashes shuffle exactly twice (per-gram count + doc " +
       "rollup) and the document text never reaches an exchange") {
    val p = plan(TextAnalysis.t22DupNgrams(spark, sfDir))
    val exchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.length == 2,
      s"expected 2 hash exchanges, got ${exchanges.length} in:\n$p")
    assert(!exchanges.exists(e => e.contains("text#") || e.contains("ws#")),
      s"text or token array crossed an exchange in:\n$p")
  }

  test("m8: frame keys shuffle, the video payload never does; the argmin " +
       "d13 runs map-side") {
    val p = plan(graft.queries.Multimodal.m8FrameRuns(spark, sfDir))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.contains("text#")),
      s"payload text crossed an exchange in:\n$p")
  }

  test("d13: the pair stage is one (cell, sub) exchange and a keep-first " +
       "scan — no join, and no window over the qualifying pair mass") {
    // mode `none`: d13 pins the scan's output for its trailing sort, and
    // a localCheckpoint leaf would hide the pair stage from explain()
    System.setProperty(Materialize.Prop, "none")
    val p = try plan(Dedup.d13SemanticDedup(spark, sfDir))
      finally System.clearProperty(Materialize.Prop)
    val lines = p.linesIterator.toSeq
    val pairExchanges = lines.filter(l => l.contains("Exchange hashpartitioning(")
      && l.matches(".*hashpartitioning\\(cell#\\d+L?, sub#\\d+L?, .*"))
    assert(pairExchanges.length == 1,
      s"expected one hashpartitioning(cell, sub) exchange in:\n$p")
    // the pair stage is every node printed above that exchange
    val pairStage = lines.takeWhile(_ != pairExchanges.head)
    assert(pairStage.exists(_.contains("MapPartitions")),
      s"no keep-first scan above the (cell, sub) exchange in:\n$p")
    assert(!pairStage.exists(_.contains("Join")),
      s"a join is back in the pair stage:\n$p")
    // the only Window node belongs to the cell ASSIGNMENT (argmax over
    // C centroid candidates per vector); the pair stage must not add one
    val windows = lines.count(_.trim.startsWith("Window"))
    assert(windows <= 1, s"unexpected extra Window ($windows) in:\n$p")
  }

  test("e12: one user_id lag shuffle; the n_prev window and both rollups " +
       "run over the aggregated pair matrix without a new corpus exchange") {
    val p = plan(EventQueries.e12JourneyEntropy(spark, sfDir))
    // Exactly ONE hash exchange: the lag window's hashpartitioning(user_id)
    // satisfies the clustering required by the (user, prev, next) pair agg
    // AND the per-user rollup (both key sets contain user_id), so
    // EnsureRequirements inserts no further shuffle; the only other
    // exchange is the presentation range sort.
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 1,
      s"expected exactly 1 hash exchange (the user_id lag window, reused " +
        s"by both rollups), got ${exchanges.count(_.contains("hashpartitioning"))} in:\n$p")
    assert(!exchanges.exists(_.contains("props#")),
      s"unused event columns crossed an exchange in:\n$p")
  }

  test("r14 lsh cell assignment: the bucketed codebook is BROADCAST, the " +
       "argmax is a partial-aggregable HashAggregate (max_by), and no " +
       "WindowExec ships the candidate mass through a sort") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val p = plan(Similarity.lshFlatCellAssigned(e))
    assert(p.contains("BroadcastExchange"),
      s"codebook bucket table not broadcast in:\n$p")
    assert(!p.contains("Window"),
      s"a window crept into the lsh assignment (the s9 measurement shape, " +
        s"not the production shape):\n$p")
    assert(p.contains("max_by") || p.contains("HashAggregate"),
      s"argmax is not a hash aggregate in:\n$p")
    // the candidate mass must partial-aggregate BEFORE its exchange:
    // a partial_max_by marker below the shuffle is the map-side combine
    assert(p.contains("partial_max_by"),
      s"no map-side partial max_by combine in:\n$p")
  }

  test("r14 exact cell assignment: the argmax is a map-side partial " +
       "max_by — no window ships the N*C scored rows (with embeddings) " +
       "through an exchange+sort; only N collapsed rows cross") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val p = plan(Similarity.cellAssigned(e))
    assert(!p.contains("Window"),
      s"the exact assignment regressed to the window shape:\n$p")
    assert(p.contains("partial_max_by"),
      s"no map-side partial max_by combine in:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the codebook is not broadcast in:\n$p")
  }

  test("r14 s1 brute top-k: a PARTIAL WindowGroupLimit sits below the " +
       "per-query exchange (map-side top-K — no reducer ever holds the " +
       "corpus) and the embeddings are pruned before the exchange") {
    val p = plan(Similarity.s1KnnBrute(spark, sfDir))
    assert(p.contains("WindowGroupLimit") &&
      p.linesIterator.exists(l => l.contains("WindowGroupLimit") &&
        l.contains("Partial")),
      s"no map-side partial top-K (the formulation-sensitive " +
        s"WindowGroupLimit guarantee) in:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(!exchanges.exists(e => e.contains("embedding#") || e.contains("q_emb#")),
      s"embeddings crossed a ranking exchange in:\n$p")
  }

  test("r14 t23: the K-th score threshold is a TakeOrdered 1-row " +
       "broadcast (never a global window), and the corpus text never " +
       "crosses an exchange — only int buckets shuffle") {
    val p = plan(TextAnalysis.t23DsirImportance(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"kth threshold lost its TakeOrdered shape in:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.trim.startsWith("Window")),
      s"a global window crept into t23:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.contains("text#")),
      s"corpus text crossed an exchange in:\n$p")
  }

  // The three s11 pins below force Materialize mode `none`: since r22 the
  // default is localCheckpoint, whose LogicalRDD leaf hides the pinned
  // structure (pair formation, shortlist, cap join) inside the checkpoint
  // materialization — the executed shape is unchanged, but explain() can
  // only show it on the fully-expanded plan.
  test("r14 s11: the smaller language slice is broadcast into the pair " +
       "matrix; after pair formation only (ids, c4) cross exchanges — " +
       "the 256-float embeddings never shuffle") {
    System.setProperty(graft.Materialize.Prop, "none")
    val p = try plan(Similarity.s11BitextMargin(spark, sfDir))
      finally System.clearProperty(graft.Materialize.Prop)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"src slice not broadcast into the pair matrix:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(e => e.contains("s_emb#") || e.contains("t_emb#")
        || e.contains("embedding#")),
      s"an embedding column crossed an exchange in:\n$p")
  }

  test("r15 s11 ivf tier: the per-(source, probed-cell) candidate " +
       "shortlist plans as a WindowGroupLimit keyed on (s_id, cell) " +
       "with NO exchange below it — the cell join's partitioning " +
       "already clusters the group key, so the shortlist is a local " +
       "sort+limit and the margin stage's input is O(N_src·P·K) " +
       "regardless of cell size") {
    System.setProperty("graft.s11.via", "ivf")
    System.setProperty(graft.Materialize.Prop, "none")
    try {
      val p = plan(Similarity.s11BitextMargin(spark, sfDir))
      val lines = p.linesIterator.toSeq
      val short = lines.indexWhere(l => l.contains("WindowGroupLimit") &&
        l.contains("cell"))
      assert(short >= 0, s"no shortlist keyed on (s_id, cell) in:\n$p")
      // nothing between the shortlist and its join input may shuffle:
      // the next Exchange below it must come AFTER the join line
      val below = lines.drop(short + 1)
      val joinAt = below.indexWhere(l => l.contains("Join"))
      val exchAt = below.indexWhere(l => l.contains("Exchange"))
      assert(joinAt >= 0 && (exchAt < 0 || exchAt > joinAt),
        s"an exchange crept between the cell join and the shortlist:\n$p")
    } finally {
      System.clearProperty("graft.s11.via")
      System.clearProperty(graft.Materialize.Prop)
    }
  }

  test("whole-stage codegen covers the scan->project hot path of t2") {
    // AQE's plan string hides codegen annotation until execution; disable
    // it for this one plan so the `*(n)` codegen markers are visible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(TextAnalysis.t2QualityScore(spark, sfDir))
      assert(p.contains("*("), s"no codegen spans in:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s11 via=flat (r17): the pair join carries the scan-cap sub in " +
       "its KEY (capped-away residents are never emitted), the brute " +
       "nested-loop shape is gone, and the shortlist's WindowGroupLimit " +
       "survives the capped join") {
    System.setProperty("graft.s11.via", "flat")
    System.setProperty(graft.Materialize.Prop, "none")
    val p = try plan(Similarity.s11BitextMargin(spark, sfDir))
      finally {
        System.clearProperty("graft.s11.via")
        System.clearProperty(graft.Materialize.Prop)
      }
    // via=flat must actually leave the exact tier's broadcast
    // nested-loop src x tgt matrix
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"),
      s"flat tier still plans the brute pair matrix in:\n$p")
    // the r17 cap lives in the join key: the pair join keys on BOTH
    // cell and sub on each side (equi-join — SMJ or hash, never a
    // post-join filter that would emit capped-away residents first)
    val subKeyedJoin = p.linesIterator.exists(l =>
      l.contains("Join") &&
        "cell#\\d+L?, sub#\\d+L?".r.findAllIn(l).size >= 2)
    assert(subKeyedJoin,
      s"no equi-join keyed on (cell, sub) — the scan cap left the join key in:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the per-(source, cell) shortlist lost its WindowGroupLimit in:\n$p")
  }
}
