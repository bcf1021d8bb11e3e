package graft

import graft.queries.Similarity

class SimilaritySpec extends SparkSpec {

  test("s1 brute-force knn: 10 ranked neighbors per query, self excluded, " +
       "cosine non-increasing within query") {
    val rows = Similarity.s1KnnBrute(spark, sfDir).collect()
    assert(rows.length == 50) // 5 queries x top-10
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
      assert(!rs.exists(_.getAs[Long]("neighbor_id") == q))
      val cos = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
        s"cosine not non-increasing for query $q: ${cos.mkString(",")}")
    }
  }

  test("s2 IVF: all queries reported, full result sets, useful recall") {
    val rows = Similarity.s2AnnIvf(spark, sfDir).collect()
    assert(rows.length == 5)
    val recalls = rows.map(_.getAs[Double]("recall_at_10"))
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    // probing 2 of 5 cells must beat random scanning on clustered data
    assert(recalls.sum / recalls.length >= 0.4,
      s"IVF mean recall too low: ${recalls.mkString(",")}")
  }

  test("s4 PQ: full result sets, recall non-degenerate, ADC shortlist honest") {
    val rows = Similarity.s4AnnPq(spark, sfDir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      // a 40-deep shortlist always fills the top-10
      assert(r.getAs[Long]("n_returned") == 10L)
      val rec = r.getAs[Double]("recall_at_10")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // 4x16 codebooks + exact re-rank must beat random (10/499 ~ 0.02 per
    // slot); observed mean on the harness corpus is 0.36
    val recalls = rows.map(_.getAs[Double]("recall_at_10"))
    assert(recalls.sum / recalls.length >= 0.2,
      s"PQ mean recall too low: ${recalls.mkString(",")}")
  }

  test("s3 multi-table LSH: all queries reported even if probes miss, " +
       "recall bounded and non-degenerate overall") {
    val rows = Similarity.s3AnnLsh(spark, sfDir).collect()
    assert(rows.length == 5)
    val recalls = rows.map(_.getAs[Double]("recall_at_10"))
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    assert(recalls.sum > 0.0, "LSH found no true neighbors at all")
    rows.foreach(r => assert(r.getAs[Long]("n_returned") <= 10))
  }

  test("s5 truncated-prefix: full result sets (a 40-deep shortlist " +
       "always fills top-10), recall beats random on untrained prefixes") {
    val rows = Similarity.s5AnnTruncated(spark, sfDir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Int]("prefix_dims") == 16)
      assert(r.getAs[Long]("n_returned") == 10L)
      val rec = r.getAs[Double]("recall_at_10")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // a random 10-of-499 shortlist scores ~0.02; a 16-of-64-dim prefix
    // carries a quarter of the cosine mass — observed mean 0.42
    val recalls = rows.map(_.getAs[Double]("recall_at_10"))
    assert(recalls.sum / recalls.length >= 0.15,
      s"prefix recall too low: ${recalls.mkString(",")}")
  }

  test("s6 filtered kNN: neighbors share the query label, ranks are " +
       "contiguous, and the result equals s1 restricted by hand") {
    import org.apache.spark.sql.functions._
    val labels = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val out = Similarity.queries("s6_filtered_knn")(spark, sfDir).collect()
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
      rows.foreach { r =>
        assert(r.getAs[Int]("label") == labels(q), "pre-filter violated")
        assert(labels(r.getAs[Long]("neighbor_id")) == labels(q))
        assert(r.getAs[Long]("neighbor_id") != q)
      }
      // cosines weakly decrease with rank (ties broken by vec_id)
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    // the filter must CHANGE the answer vs unfiltered s1 somewhere —
    // otherwise the query proves nothing about pre-filtering
    val s1 = Similarity.queries("s1_knn_brute")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val s6 = out.map(r => (r.getAs[Long]("q_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    assert((s6 -- s1).nonEmpty, "filtered top-k identical to global top-k")
  }

  test("s7: IVF-PQ recall is bounded per query by s2's pure-IVF recall " +
       "(same probed cells — any brute hit s7 can return is inside the " +
       "cells, where s2's exact top-k already counts it)") {
    val ivf = Similarity.s2AnnIvf(spark, sfDir).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("recall_at_10"))
      .toMap
    val ivfpq = Similarity.s7AnnIvfPq(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Double]("recall_at_10"),
        r.getAs[Long]("n_returned")))
    assert(ivfpq.nonEmpty)
    ivfpq.foreach { case (q, r, n) =>
      assert(r <= ivf(q) + 1e-9, s"query $q: ivfpq recall $r > ivf ${ivf(q)}")
      assert(n <= 10, s"query $q returned $n > K")
    }
  }

  test("s8 radius search: planted geometry — only pairs above the 0.30 " +
       "cosine threshold return, magnitude-invariant, self excluded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-s8").toString
    def axis(i: Int, scale: Float = 1f): Array[Float] = {
      val a = Array.fill(8)(0f); a(i) = scale; a
    }
    // queries 0..4 = axes e1..e5; corpus: v5 = 2*e1 (cos 1.0 with q0 —
    // scale must not matter), v6 = e6 (orthogonal to everything), v7 =
    // e1+e2 (cos 0.7071 with BOTH q0 and q1)
    val v7 = { val a = Array.fill(8)(0f); a(0) = 1f; a(1) = 1f; a }
    ((0 to 4).map(i => (i.toLong, axis(i), i)) ++ Seq(
      (5L, axis(0, 2f), 0), (6L, axis(5), 1), (7L, v7, 2)))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.s8RadiusSearch(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine")))
    assert(got.toSeq == Seq(
      (0L, 5L, 1.0), (0L, 7L, 0.7071), (1L, 7L, 0.7071)))
  }

  test("r14 production lsh assignment: the max_by formulation agrees " +
       "with s9's window formulation vector-for-vector, and misses " +
       "become disjoint negative sentinel singletons") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    // at harness SF the flat tier degenerates to s9's 16-centroid codebook
    // at 5 bits with a non-binding cap, so it is s9's assignment
    assert(Similarity.centroidsFlat(e).count() == 16L)
    val prod = Similarity.lshFlatCellAssigned(e).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val s9 = Similarity.s9LshAssign(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell_lsh")).toMap
    assert(prod.keySet == s9.keySet, "vector coverage differs")
    prod.foreach { case (vid, cell) =>
      val ref = s9(vid)
      if (ref == -1L)
        assert(cell == -vid - 1,
          s"vec $vid: s9 miss should map to sentinel ${-vid - 1}, got $cell")
      else assert(cell == ref, s"vec $vid: prod cell $cell != s9 cell $ref")
    }
    // sentinel cells are singletons by construction: each equals
    // -vec_id-1, so two vectors can never share one
    val sentinels = prod.collect { case (vid, c) if c < 0 => (vid, c) }
    assert(sentinels.forall { case (vid, c) => c == -vid - 1 })
  }

  test("s11 bitext margins: planted orthogonal-basis corpus gives " +
       "hand-computed ratio margins, ties broken by id, zero-match rejected") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-s11").toString
    def basis(i: Int, j: Int = -1): Seq[Float] =
      (0 until 64).map(d => if (d == i || d == j) 1f else 0f)
    // src (de): s1=e0, s2=e1, s3=e3 (orthogonal to every target).
    // tgt (en): t10=e0 (exact match for s1), t11=(e0+e1)/|.| (cos 1/√2
    // to s1 AND s2 → c4=7071), t12=e2 (orthogonal to everything).
    // c4 matrix: s1:(10000,7071,0) s2:(0,7071,0) s3:(0,0,0); na=3 each;
    // per-tgt sums: t10=10000, t11=14142, t12=0; nb=3 each.
    // margins: s1→t10 2·10000·9/(17071·3+10000·3)=2.2164 accepted;
    // s2→t11 2·7071·9/(7071·3+14142·3)=2.0 accepted;
    // s3→t10 (all-zero tie → lowest t_id) num 0 → margin 0, rejected.
    Seq((1L, basis(0), 0), (2L, basis(1), 0), (3L, basis(3), 0),
        (10L, basis(0), 1), (11L, basis(0, 1), 1), (12L, basis(2), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    (Seq(1L, 2L, 3L).map((_, "de")) ++ Seq(10L, 11L, 12L).map((_, "en")))
      .map { case (id, lang) => (id, "w x", lang, "s0", 3L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Similarity.s11BitextMargin(spark, dir).collect()
      .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("match_id"),
        r.getAs[Double]("cosine"), r.getAs[Double]("margin"),
        r.getAs[Boolean]("accepted")))
    assert(got.toSeq == Seq(
      (1L, 10L, 1.0, 2.2164, true),
      (2L, 11L, 0.7071, 2.0, true),
      (3L, 10L, 0.0, 0.0, false)))
  }

  test("s11 via seam: default is exact (property unset); via=ivf routes " +
       "the same entry through the blocked pair source and matches s11b's " +
       "blocked columns row for row") {
    val dir = "/root/testdata/sf0.01"
    assert(sys.props.get("graft.s11.via").isEmpty)
    val s11b = Similarity.s11bBitextBlocked(spark, dir).collect()
      .filter(_.getAs[Long]("match_id") != -1L)
      .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("match_id"),
        r.getAs[Double]("cosine"), r.getAs[Double]("margin"),
        r.getAs[Boolean]("accepted")))
    System.setProperty("graft.s11.via", "ivf")
    try {
      val viaIvf = Similarity.s11BitextMargin(spark, dir).collect()
        .map(r => (r.getAs[Long]("s_id"), r.getAs[Long]("match_id"),
          r.getAs[Double]("cosine"), r.getAs[Double]("margin"),
          r.getAs[Boolean]("accepted")))
      assert(viaIvf.toSeq == s11b.toSeq,
        "the seam's ivf path diverged from s11b's blocked tier")
    } finally System.clearProperty("graft.s11.via")
    // sanity: exact default produces the committed-oracle row count
    assert(Similarity.s11BitextMargin(spark, dir).count() == 70L)
  }

  test("s11 via=twolevel: same schema, sources subset of exact, margins " +
       "well-formed") {
    val dir = "/root/testdata/sf0.01"
    val exact = Similarity.s11BitextMargin(spark, dir)
    val exactIds = exact.collect().map(_.getAs[Long]("s_id")).toSet
    System.setProperty("graft.s11.via", "twolevel")
    try {
      val tl = Similarity.s11BitextMargin(spark, dir)
      assert(tl.schema == exact.schema, "twolevel tier changed the schema")
      val rows = tl.collect()
      assert(rows.nonEmpty, "twolevel tier mined nothing")
      val ids = rows.map(_.getAs[Long]("s_id"))
      assert(ids.distinct.length == ids.length, "duplicate source rows")
      assert(ids.forall(exactIds.contains),
        "twolevel tier produced a source the exact tier does not know")
      info(s"twolevel tier: ${rows.length}/${exactIds.size} sources matched")
    } finally System.clearProperty("graft.s11.via")
  }

  test("s13 capped-assignment differential: one row per vector, capped " +
       "candidates never exceed uncapped, the cap actually evicts, " +
       "agreement flags are consistent, misses visible as -1") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val rows = Similarity.s13LshCapAssign(spark, sfDir).collect()
    assert(rows.length.toLong == e.count(), "one row per vector")
    rows.foreach { r =>
      val (cap, lsh, exact) = (r.getAs[Long]("cell_cap"),
        r.getAs[Long]("cell_lsh"), r.getAs[Long]("cell_exact"))
      val (nc, nl) = (r.getAs[Long]("n_cand_cap"), r.getAs[Long]("n_cand_lsh"))
      assert(nc <= nl, s"capped candidates $nc exceed uncapped $nl")
      assert(exact >= 0L, "exact argmax can never miss")
      assert((cap == -1L) == (nc == 0L), "miss iff zero candidates")
      assert(r.getAs[Boolean]("cap_agree_lsh") == (cap == lsh))
      assert(r.getAs[Boolean]("cap_agree_exact") == (cap == exact))
    }
    val (totCap, totLsh) =
      (rows.map(_.getAs[Long]("n_cand_cap")).sum,
       rows.map(_.getAs[Long]("n_cand_lsh")).sum)
    assert(totCap < totLsh,
      "cap=1 must shrink the total candidate mass on the harness corpus")
    info(s"candidate mass: capped $totCap vs uncapped $totLsh; " +
      s"agree_lsh ${rows.count(_.getAs[Boolean]("cap_agree_lsh"))}/${rows.length}")
  }

  test("s11 via=flat: same schema, sources subset of exact, margins " +
       "well-formed") {
    val dir = "/root/testdata/sf0.01"
    val exact = Similarity.s11BitextMargin(spark, dir)
    val exactIds = exact.collect().map(_.getAs[Long]("s_id")).toSet
    System.setProperty("graft.s11.via", "flat")
    try {
      val fl = Similarity.s11BitextMargin(spark, dir)
      assert(fl.schema == exact.schema, "flat tier changed the schema")
      val rows = fl.collect()
      assert(rows.nonEmpty, "flat tier mined nothing")
      val ids = rows.map(_.getAs[Long]("s_id"))
      assert(ids.distinct.length == ids.length, "duplicate source rows")
      assert(ids.forall(exactIds.contains),
        "flat tier produced a source the exact tier does not know")
      info(s"flat tier: ${rows.length}/${exactIds.size} sources matched")
    } finally System.clearProperty("graft.s11.via")
  }

  test("s11 flat scan cap (r17): the default cap is non-binding at " +
       "harness SF — bit-identical to an explicitly-unbounded run — " +
       "and a cap=1 run still mines a non-empty deduped subset of " +
       "exact sources with the schema unchanged") {
    val dir = "/root/testdata/sf0.01"
    val exact = Similarity.s11BitextMargin(spark, dir)
    val exactIds = exact.collect().map(_.getAs[Long]("s_id")).toSet
    def flat(cap: Long) = Similarity.s11BitextMargin(spark, dir, "flat", cap)
    val dflt = flat(Similarity.S11FlatScanCap).collect().toSeq
    val unbounded = flat(1000000000L).collect().toSeq
    val t = flat(1L)
    assert(t.schema == exact.schema, "cap changed the schema")
    val tight = t.collect().toSeq
    assert(dflt == unbounded,
      "default cap bound a harness-SF cell — the no-op invariant broke")
    assert(tight.nonEmpty, "cap=1 mined nothing")
    val ids = tight.map(_.getAs[Long]("s_id"))
    assert(ids.distinct.length == ids.length, "duplicate source rows")
    assert(ids.forall(exactIds.contains),
      "capped tier produced a source the exact tier does not know")
    info(s"cap=1: ${tight.length}/${exactIds.size} sources matched")
  }

  test("s15 scan-cap gate: the tight cap BINDS at harness SF (k_scan " +
       "> 1 somewhere), k_scan is exactly ceil(c_n/cap), the chosen sub " +
       "is in range, and the scanned count never exceeds the cell") {
    val dir = "/root/testdata/sf0.01"
    val rows = Similarity.s15FlatScanCap(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cn, k, sub, n) = (r.getAs[Long]("c_n"), r.getAs[Long]("k_scan"),
        r.getAs[Long]("sub"), r.getAs[Long]("n_scanned"))
      assert(k == (cn + Similarity.S15Cap - 1) / Similarity.S15Cap,
        s"k_scan $k != ceil($cn/${Similarity.S15Cap})")
      assert(sub >= 0 && sub < k, s"sub $sub out of [0, $k)")
      assert(n <= cn, s"scanned $n exceeds cell population $cn")
    }
    assert(rows.exists(_.getAs[Long]("k_scan") > 1L),
      "tight cap never bound — the gate is re-testing a no-op")
    val bound = rows.count(r =>
      r.getAs[Long]("n_scanned") <= 2L * Similarity.S15Cap)
    info(s"s15: ${rows.length} probed cells, " +
      s"${rows.count(_.getAs[Long]("k_scan") > 1L)} with k_scan>1, " +
      s"$bound/${rows.length} scans within 2x cap")
  }

  test("s11 flat scan cap survives scale-corpus ids (r17 regression): " +
       "cell ids are centroid vec_ids, so the probe-side sub mix must " +
       "stay inside idMix's ANSI-safe range for large ids — the naive " +
       "cell*prime operand threw ARITHMETIC_OVERFLOW on every sf30+ " +
       "corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-s11big").toString
    val base = 4000000L // well past the ~83k ids that overflowed
    def basis(i: Int): Seq[Float] =
      (0 until 64).map(d => if (d == i) 1f else 0f)
    val ids = (0 until 40).map(i => base + i * 1001L)
    ids.zipWithIndex.map { case (id, i) => (id, basis(i % 8), i % 2) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    ids.zipWithIndex.map { case (id, i) =>
      (id, "w x", if (i % 2 == 0) "de" else "en", "s0", 3L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // cap 1 forces k_scan > 1
    val rows = Similarity.s11BitextMargin(spark, dir, "flat", 1L).collect()
    assert(rows.forall(_.getAs[Long]("s_id") >= base))
    info(s"large-id flat cap: ${rows.length} sources mined")
  }

  test("s11 via seam hygiene (ADVICE r16): 'lshflat' aliases the flat " +
       "tier (the d13 seam spelling); an unknown via name fails loudly " +
       "instead of silently running exact") {
    val dir = "/root/testdata/sf0.01"
    System.setProperty("graft.s11.via", "lshflat")
    val alias = try Similarity.s11BitextMargin(spark, dir).collect().toSeq
      finally System.clearProperty("graft.s11.via")
    System.setProperty("graft.s11.via", "flat")
    val flat = try Similarity.s11BitextMargin(spark, dir).collect().toSeq
      finally System.clearProperty("graft.s11.via")
    assert(alias == flat, "lshflat alias diverged from flat")
    // `lsh` is a retired tier name: a stale setting must not silently
    // run another tier
    for (bad <- Seq("nosuchtier", "lsh")) {
      System.setProperty("graft.s11.via", bad)
      try {
        val err = intercept[RuntimeException] {
          Similarity.s11BitextMargin(spark, dir).collect()
        }
        assert(err.getMessage.contains("unknown s11 via tier"),
          s"wrong failure for '$bad': ${err.getMessage}")
      } finally System.clearProperty("graft.s11.via")
    }
  }

  test("s17 codebook refine (r18): one Lloyd step moves an explicit " +
       "codebook to exact integer-quantized cell means (hand-computed), " +
       "preserves the c_id set, and the gated entry keeps s2's schema") {
    import spark.implicits._
    // planted corpus: two clean clusters on orthogonal axes, seeds are
    // deliberately OFF-CENTER members (the idMix-sample pathology the
    // refinement exists to correct)
    def v(axis: Int, main: Float, off: Float): Seq[Float] =
      (0 until 64).map(d =>
        if (d == axis) main else if (d == (axis + 1) % 64) off else 0f)
    val cluster0 = Seq( // axis 0, varying off-axis leakage
      (0L, v(0, 1f, 0.0f)), (1L, v(0, 1f, 0.4f)), (2L, v(0, 1f, 0.8f)))
    val cluster1 = Seq(
      (10L, v(8, 1f, 0.0f)), (11L, v(8, 1f, 0.6f)))
    val e = (cluster0 ++ cluster1).toDF("vec_id", "embedding")
    val cent = Seq((2L, v(0, 1f, 0.8f)), (11L, v(8, 1f, 0.6f)))
      .toDF("c_id", "c_emb") // the worst member of each cluster
    val got = Similarity.refineCentroids(cent, e).collect()
      .map(r => (r.getAs[Long]("c_id"),
        r.getAs[scala.collection.Seq[Float]]("c_emb").toSeq))
      .toMap
    assert(got.keySet == Set(2L, 11L), "c_id set not preserved")
    // independent reference: exact argmax assignment, then the quantized
    // mean with the engine's own arithmetic (round(x*1e4) BIGINT sums,
    // one double division, float cast)
    def refMean(members: Seq[Seq[Float]]): Seq[Float] =
      (0 until 64).map { d =>
        val s4 = members.map(m => math.round(m(d).toDouble * 10000)).sum
        (s4.toDouble / (members.length * 10000.0)).toFloat
      }
    // cosine(x, c) is maximal for each cluster's own centroid here
    // (orthogonal axes), so the assignment is the cluster split
    assert(got(2L) == refMean(cluster0.map(_._2)),
      "cluster-0 centroid is not the quantized cell mean")
    assert(got(11L) == refMean(cluster1.map(_._2)),
      "cluster-1 centroid is not the quantized cell mean")
    // the gated entry: s2's schema and anchoring, recalls well-formed
    val s2 = Similarity.s2AnnIvf(spark, sfDir)
    val s17 = Similarity.s17IvfRefined(spark, sfDir)
    assert(s17.schema == s2.schema, "s17 changed s2's schema")
    val rows = s17.collect()
    assert(rows.length == 5, "one row per query")
    assert(rows.forall { r =>
      val rec = r.getAs[Double]("recall_at_10"); rec >= 0.0 && rec <= 1.0
    })
  }

  test("s16 margin sweep (r18): one row per threshold, counts monotone " +
       "non-increasing in the threshold, overlaps bounded, and the " +
       "1.05 row consistent with s11/s11b's fixed-threshold accepted sets") {
    val dir = "/root/testdata/sf0.01"
    val rows = Similarity.s16MarginSweep(spark, dir).collect()
    assert(rows.map(_.getAs[Double]("thr")).toSeq == Similarity.S16Thresholds)
    assert(rows.map(_.getAs[Long]("n_src")).distinct.length == 1,
      "n_src must be the same exact-anchored count in every row")
    def seq(c: String) = rows.map(_.getAs[Long](c)).toSeq
    for (c <- Seq("exact_accepted", "blocked_accepted", "overlap_any",
        "overlap_same")) {
      val v = seq(c)
      assert(v.zip(v.tail).forall { case (a, b) => a >= b },
        s"$c not monotone non-increasing over thresholds: $v")
    }
    rows.foreach { r =>
      val e = r.getAs[Long]("exact_accepted")
      val b = r.getAs[Long]("blocked_accepted")
      val any = r.getAs[Long]("overlap_any")
      val same = r.getAs[Long]("overlap_same")
      assert(same <= any && any <= math.min(e, b),
        s"overlap bounds violated at thr ${r.getAs[Double]("thr")}")
      // blocked candidates are a subset of the exact pair matrix, so the
      // regret of any accepted pick is >= 0 (and so is the sum/mean)
      assert(r.getAs[Long]("acc_regret4_sum") >= 0L)
      if (b == 0L) assert(r.isNullAt(r.fieldIndex("mean_acc_regret")))
      else assert(r.getAs[Double]("mean_acc_regret") >= 0.0)
    }
    // the shipped operating points ARE sweep rows: s11b (blocked, ivf)
    // accepts at S11BlockedThreshold = the 1.02 row's blocked count;
    // s11 (exact) accepts at S11Threshold = the 1.05 row's exact count
    val at102 = rows.find(
      _.getAs[Double]("thr") == Similarity.S11BlockedThreshold).get
    val s11bAcc = Similarity.s11bBitextBlocked(spark, dir).collect()
      .count(_.getAs[Boolean]("accepted"))
    assert(at102.getAs[Long]("blocked_accepted") == s11bAcc,
      "sweep's 1.02 blocked count diverged from the gated s11b")
    val at105 = rows.find(
      _.getAs[Double]("thr") == Similarity.S11Threshold).get
    val s11Acc = Similarity.s11BitextMargin(spark, dir).collect()
      .count(_.getAs[Boolean]("accepted"))
    assert(at105.getAs[Long]("exact_accepted") == s11Acc,
      "sweep's 1.05 exact count diverged from the gated s11")
  }

  test("d13 assignVia=lshcap: cap >= C is bit-identical to lsh; a tight " +
       "cap keeps the per-bucket bound, stays a subset of the uncapped " +
       "codebook, and still assigns every vector") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val cent = Similarity.centroidsOf(e)
    def pairs(cb: org.apache.spark.sql.DataFrame): Seq[(Int, Long)] =
      cb.select("bucket", "c_id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val full = pairs(Similarity.bucketedCodebook(cent))
    // 1. a cap >= C binds nowhere: every (bucket, centroid) pair survives
    val loose = pairs(Similarity.cappedCodebook(cent, cent.count().toInt))
    assert(loose.sorted == full.sorted,
      "cap >= C must keep the whole bucketed codebook")
    // 2. the cap is enforced scan-side on the codebook itself
    val capped = pairs(Similarity.cappedCodebook(cent, 1))
    assert(capped.groupBy(_._1).values.forall(_.length <= 1),
      "a bucket kept more residents than the cap")
    assert(capped.toSet.subsetOf(full.toSet),
      "capped codebook invented a (bucket, centroid) pair")
    assert(capped.toSet.size < full.size,
      "cap=1 on the harness codebook should actually bind somewhere")
  }

  test("d13 assignVia=lshflat: at harness SF the flat codebook " +
       "degenerates to the NumCentroids floor and the cap never binds, " +
       "so the tier must reproduce the lsh drop set exactly; the flat " +
       "sizing rule itself is pinned at the unit level") {
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    // 500 vectors / target 512 -> ceil = 1 -> the 16-centroid floor:
    // identical codebook to the standard sqrt rule at this SF
    assert(Similarity.centroidsFlat(e).count() == 16L)
    System.setProperty("graft.d13.assignVia", "lshflat")
    val rows = try graft.queries.Dedup.d13SemanticDedup(spark, dir).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
          r.getAs[Long]("kept_by"), r.getAs[Double]("cosine"))).toSeq
      finally System.clearProperty("graft.d13.assignVia")
    assert(rows.nonEmpty, "lshflat d13 dropped nothing on the harness")
    assert(rows.forall { case (vid, _, kb, _) => kb < vid },
      "keeper must be the lower id (greedy keep-first)")
    assert(rows.forall(_._4 >= graft.queries.Dedup.D13Threshold))
    assert(rows.forall(_._2 >= 0L), "a sentinel cell produced a pair")
  }

  test("s14 flat-construction gate: the tight knobs BIND at harness SF " +
       "(k = N/4 codebook above the floor, adaptive 7-bit width above " +
       "the 5-bit floor), candidates are bounded by L*cap, and picks " +
       "come from the flat codebook or the visible -1 sentinel") {
    val rows = Similarity.s14FlatAssign(spark, sfDir).collect()
    assert(rows.length == 500)
    // the two adaptive quantities, emitted as columns and oracle-checked:
    // k = max(16, ceil(500/4)) = 125 (the linear rule BINDS — not the
    // floor), bits = max(5, ceil(log2(125/1))) = 7 (adaptive width BINDS)
    rows.foreach { r =>
      assert(r.getAs[Long]("codebook_k") == 125L)
      assert(r.getAs[Long]("bucket_bits") == 7L)
      // capped join output is bounded: <= NumTables * cap candidates
      // (the engine's own knobs, not literals — ADVICE r16: a knob
      // change must not leave this silently checking a stale bound)
      assert(r.getAs[Long]("n_cand") <=
        Similarity.NumTables.toLong * Similarity.S14Cap)
      val flat = r.getAs[Long]("cell_flat")
      assert(flat == -1L || flat >= 0L)
      assert(r.getAs[Boolean]("flat_agree") ==
        (flat == r.getAs[Long]("cell_exact")))
    }
    val agree = rows.count(_.getAs[Boolean]("flat_agree"))
    val misses = rows.count(_.getAs[Long]("cell_flat") == -1L)
    assert(agree > 0, "flat pick never matched the exact argmax")
    info(s"s14 at sf0.01: agree $agree/500, misses $misses")
  }

  test("d13 assignVia=twolevel: drop rows are a plausible d13 output — " +
       "every drop has a lower-id keeper in the same cell at cosine >= " +
       "threshold semantics preserved (schema + keeper < vec_id)") {
    System.setProperty("graft.d13.assignVia", "twolevel")
    try {
      val rows = graft.queries.Dedup.d13SemanticDedup(spark, sfDir).collect()
      assert(rows.nonEmpty, "twolevel d13 dropped nothing on the harness")
      rows.foreach { r =>
        assert(r.getAs[Long]("kept_by") < r.getAs[Long]("vec_id"),
          "keeper must be the lower id (greedy keep-first)")
        assert(r.getAs[Double]("cosine") >= graft.queries.Dedup.D13Threshold)
      }
    } finally System.clearProperty("graft.d13.assignVia")
  }

  test("s12 assign-margin probe: one row, ~1k sample, and the harness " +
       "(near-uniform) corpus reads mean_top1 BELOW the 0.45 clustered " +
       "threshold — the decision rule routes it to exact assignment") {
    val rows = Similarity.s12AssignMargin(spark, sfDir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Long]("n_sampled") > 0)
    val meanTop1 = r.getAs[Double]("mean_top1")
    val meanMargin = r.getAs[Double]("mean_margin")
    assert(meanTop1 > 0 && meanTop1 < 0.45,
      s"harness corpus should read near-uniform (mean_top1=$meanTop1)")
    assert(meanMargin >= 0, "top1 - top2 margin cannot be negative")
  }
}
