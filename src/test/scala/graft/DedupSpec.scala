package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.cosine_sim
import graft.queries.Dedup

class DedupSpec extends SparkSpec {

  /** Planted corpus: 1=2 exact dup, 3 near-dup of 1 (one word differs),
    * 4 unrelated, 5 too short to shingle. Written as parquet so the
    * Dedup queries read it through the same Tables path. */
  lazy val plantedDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dedup").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("sigma", "sigmaX")
    Seq(
      (1L, base, "en", "s0", base.length.toLong),
      (2L, base, "en", "s0", base.length.toLong),
      (3L, near, "en", "s0", near.length.toLong),
      (4L, "one two three four five six seven eight nine ten eleven twelve",
        "en", "s1", 60L),
      (5L, "tiny doc", "en", "s1", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("shingles: distinct word-3-grams; short text yields empty array") {
    import spark.implicits._
    val out = Seq("a b c d", "a b", "x y z")
      .toDF("text")
      .select(Dedup.shingles(col("text")).as("sh"))
      .collect()
      .map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq.empty)
    assert(out(2) == Seq("x y z"))
  }

  test("word_shingle_hashes == xxhash64 of every string shingle, in order " +
       "(edge cases + real harness docs)") {
    import spark.implicits._
    import graft.functions.TextHashFunctions.word_shingle_hashes
    val edge = Seq(
      "a b c d e",        // plain
      "a  b c",           // consecutive spaces → empty word
      " a b c ",          // leading/trailing spaces
      "a b",              // too short
      "",                 // empty
      "x y z x y z x y z" // repeats → distinct dedup
    ).toDF("text")
    val harness = graft.sources.Tables.documents(spark, sfDir).select("text")
    for (df <- Seq(edge, harness)) {
      val mismatches = df.select(
          word_shingle_hashes(col("text"), 3).as("fast"),
          transform(Dedup.shingles(col("text")), s => xxhash64(s)).as("ref"))
        .filter(not(col("fast") === col("ref")))
        .count()
      assert(mismatches == 0)
    }
  }

  test("minhash_sig == the 64 permutation-min aggregate composition, " +
       "element for element (edge cases + real harness docs)") {
    import graft.functions.MinHashSig
    import graft.functions.SketchFunctions.minhash_sig
    import graft.functions.TextHashFunctions.word_shingle_hashes
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(word_shingle_hashes(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
    val refCols = (0 until MinHashSig.NumHashes).map { i =>
      array_min(transform(col("shs"), h =>
        pmod(pmod(h, lit(MinHashSig.P)) * lit(MinHashSig.hashA(i))
          + lit(MinHashSig.hashB(i)), lit(MinHashSig.P))))
    }
    val mismatches = docs
      .select(minhash_sig(col("shs")).as("sig"), array(refCols: _*).as("ref"))
      .filter(not(col("sig") === col("ref")))
      .count()
    assert(mismatches == 0)
    // empty array in → empty array out (callers filter before grouping)
    import spark.implicits._
    val empty = Seq(Array.emptyLongArray).toDF("shs")
      .select(minhash_sig(col("shs"))).collect()
    assert(empty(0).getSeq[Long](0).isEmpty)
  }

  test("simhash64 == the explode-every-word + conditional-sum aggregate " +
       "composition (edge cases + real harness docs)") {
    import spark.implicits._
    import graft.functions.SketchFunctions.simhash64
    val edge = Seq("", "a", "a  b", " a b ", "x y z x y z").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    val harness = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    for (docs <- Seq(edge, harness)) {
      val bitSums = (0 until 64).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$i")
      }
      val fpRef = (0 until 64)
        .map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(0L))
        .reduce(_ + _)
      val ref = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .withColumn("h", xxhash64(col("w")))
        .groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), fpRef.as("ref_fp"))
      val mismatches = docs
        .select(col("doc_id"), simhash64(col("text")).as("fast"))
        .join(ref, "doc_id")
        .filter(not(col("fast") === col("ref_fp")))
        .count()
      assert(mismatches == 0)
    }
  }

  test("d1 exact dedup groups identical texts, keeps lowest doc_id") {
    val rows = Dedup.d1DedupExact(spark, plantedDir).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) == 2 && byId(1L).getBoolean(2))   // keeper
    assert(byId(2L).getLong(1) == 2 && !byId(2L).getBoolean(2))  // dup
    assert(byId(3L).getLong(1) == 1 && byId(3L).getBoolean(2))
  }

  test("d3 minhash lsh finds exact and near dups, skips unrelated") {
    val pairs = Dedup.d3MinhashLsh(spark, plantedDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val m = pairs.map { case (a, b, j) => (a, b) -> j }.toMap
    assert(m((1L, 2L)) == 1.0)            // exact dup: jaccard 1
    assert(m((1L, 3L)) > 0.7 && m((1L, 3L)) < 1.0)
    assert(m((2L, 3L)) == m((1L, 3L)))
    assert(!m.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("d4 simhash: identical docs at hamming 0, near-dups close, " +
       "unrelated docs absent from the <=8 cutoff") {
    val rows = Dedup.d4Simhash(spark, plantedDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val m = rows.map { case (a, b, h) => (a, b) -> h }.toMap
    assert(m((1L, 2L)) == 0)
    assert(m((1L, 3L)) <= 8 && m((1L, 3L)) > 0)
    assert(!m.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("cosine_sim expression: identity, orthogonality, null propagation") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f)),   // identical
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),   // orthogonal
      (Array(3f, 4f, 0f), Array(3f, 4f, 0f)),   // non-unit identical
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f))    // zero vector
    ).toDF("a", "b")
    val vals = df.select(cosine_sim(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(vals(0) == 1.0)
    assert(vals(1) == 0.0)
    assert(math.abs(vals(2) - 1.0) < 1e-12)
    assert(vals(3) == 0.0)
    val withNull = df.limit(1)
      .select(cosine_sim(lit(null).cast("array<float>"), col("b"))).collect()
    assert(withNull(0).isNullAt(0))
  }

  test("cosine_sim: null ELEMENTS poison to NULL; literal inputs stay correct") {
    import spark.implicits._
    val df = Seq(0, 1).toDF("id")
    // array(...) with a when() is element-nullable; id=1 row has a null element
    val nullableArr = array(
      when(col("id") === 0, lit(1.0f)).otherwise(lit(null).cast("float")),
      lit(1.0f))
    val out = df.orderBy("id")
      .select(cosine_sim(nullableArr, nullableArr).as("c")).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12) // no null element
    assert(out(1).isNullAt(0), s"null element must poison to NULL, got ${out(1)}")
    // always nullable — a runtime length mismatch can poison any call
    val lit1 = typedlit(Array(3f, 4f))
    val col1 = cosine_sim(lit1, lit1)
    val r = spark.range(1).select(col1.as("c"))
    assert(r.schema("c").nullable)
    assert(math.abs(r.collect()(0).getDouble(0) - 1.0) < 1e-12)
  }

  /** Degenerate corpus for the cap/collapse tests: docs 1–5 are five
    * byte-IDENTICAL copies of one text (the boilerplate cluster every
    * crawl contains), docs 101–120 are twenty pairwise-DISTINCT near-dups
    * of a second base (each appends its own marker word → pairwise
    * Jaccard 28/30 ≈ 0.933, all above d3's 0.5 threshold), doc 200 is
    * unrelated. Brute-force ground truth: C(5,2)=10 pairs at 1.0 and
    * C(20,2)=190 pairs at 0.9333, nothing else. */
  lazy val degenerateDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dedup-degen").toString
    val baseA = (1 to 25).map(i => s"alpha$i").mkString(" ")
    val baseB = (1 to 30).map(i => s"beta$i").mkString(" ")
    val rows =
      (1 to 5).map(i => (i.toLong, baseA, "en", "s0", baseA.length.toLong)) ++
      (1 to 20).map(i => (100L + i.toLong, s"$baseB marker$i", "en", "s0", 10L)) ++
      Seq((200L, "wholly different vocabulary sharing no trigram with either cluster at all",
        "en", "s1", 10L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d3 degenerate cluster, default caps: collapse+expansion reproduces " +
       "brute force exactly (10 within-group pairs at 1.0 + 190 flood pairs)") {
    val pairs = Dedup.d3MinhashLsh(spark, degenerateDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val within = pairs.filter { case (a, _, _) => a <= 5L }
    val flood = pairs.filter { case (a, _, _) => a > 100L }
    assert(within.length == 10 && within.forall(_._3 == 1.0))
    assert(flood.length == 190 && flood.forall(_._3 == 0.9333))
    assert(pairs.length == 200, s"unexpected extra pairs: ${pairs.length}")
  }

  test("d3/d4 lowered caps: oversized buckets are dropped (bounded work) " +
       "while exact-dup pairs survive via group expansion") {
    val pairs = Dedup.d3MinhashLsh(spark, degenerateDir, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val within = pairs.filter { case (a, _, _) => a <= 5L }
    val flood = pairs.filter { case (a, _, _) => a > 100L }
    // collapse immunity: the identical cluster is ONE rep — its pairs
    // come from group expansion, never from (capped) bucketing
    assert(within.length == 10 && within.forall(_._3 == 1.0))
    // cap engagement: the 20-rep flood overflows 4-slot buckets, so
    // candidates are dropped — and every pair that IS emitted still
    // carries the exact verified Jaccard (the cap loses rows, never
    // corrupts them)
    assert(flood.length < 190, "cap did not engage on the flood cluster")
    assert(flood.forall(_._3 == 0.9333))
    // d4's hamming-0 immunity, through the oracle-slice surface: every
    // identical pair must surface at hamming 0 (-1 = lost). 11 pairs:
    // C(5,2)=10 from the identical cluster plus doc 200's planted
    // augmentation copy (200 % D4bEvery == 0).
    val d4 = Dedup.d4SimhashExactDup(spark, degenerateDir, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(d4.length == 11 && d4.forall(_._3 == 0))
    assert(d4.contains((200L, 200L + Dedup.D4bIdShift, 0)))
  }

  test("d7 cleaned corpus: both degenerate clusters collapse to one " +
       "survivor each; the unclustered doc survives untouched") {
    val baseALen = (1 to 25).map(i => s"alpha$i").mkString(" ").length.toLong
    val rows = Dedup.d7CleanedCorpus(spark, degenerateDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.toSeq == Seq(
      // s0: 25 docs, keep roots 1 and 101 (chars baseA.length + 10)
      ("s0", 25L, 2L, 23L, baseALen + 10L),
      // s1: doc 200 is in no cluster, survives with its 10 chars
      ("s1", 1L, 1L, 0L, 10L)))
  }

  test("band/chunk bucket occupancy on the harness corpus stays far below " +
       "the 256 caps (the headroom claim)") {
    val d3max = Dedup.d3Buckets(Dedup.d3Signatures(Dedup.d3ShingledDocs(spark, sfDir)))
      .groupBy("band", "bh").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(d3max <= Dedup.MaxBandBucket / 4,
      s"d3 band bucket occupancy $d3max too close to cap ${Dedup.MaxBandBucket}")
    val d4max = Dedup.d4Chunks(
        Dedup.d4Signatures(graft.sources.Tables.documents(spark, sfDir)))
      .groupBy("chunk_idx", "chunk").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(d4max <= Dedup.MaxChunkBucket / 4,
      s"d4 chunk bucket occupancy $d4max too close to cap ${Dedup.MaxChunkBucket}")
  }

  test("d3 returns identical rows under cache, localCheckpoint, and none " +
       "materialization (the Materialize knob parity pin)") {
    // CacheManager substitutes cached plans into ANY matching query, so a
    // leftover cache entry from one mode would silently serve the next
    // mode's run through the cached path instead of its own. Drop both the
    // CacheManager entries and any block-manager blocks (localCheckpoint
    // persists outside the CacheManager) around every run.
    def dropMaterializedState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def run(): Seq[(Long, Long, Double)] = {
      dropMaterializedState()
      try Dedup.d3MinhashLsh(spark, plantedDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      finally dropMaterializedState()
    }
    val base = run() // default under local[4]: localCheckpoint since r22
    assert(base.nonEmpty)
    // the default follows the master: local checkpoints only where a lost
    // executor cannot lose the blocks
    assert(Materialize.mode == "localCheckpoint")
    for (m <- Seq("local", "local[4]", "local[*]", "local[4,2]"))
      assert(Materialize.defaultFor(m) == "localCheckpoint", m)
    for (m <- Seq("local-cluster[2,1,1024]", "spark://h:7077", "yarn", "k8s://h:443"))
      assert(Materialize.defaultFor(m) == "cache", m)
    for (mode <- Seq("cache", "localCheckpoint", "none", "chache")) {
      sys.props(Materialize.Prop) = mode
      try {
        if (mode == "chache") {
          // a typo'd mode must fail, not run `cache` under another name
          val ex = intercept[RuntimeException](run())
          assert(ex.getMessage.contains(
            "unknown graft.materialize mode 'chache'"), ex.getMessage)
        } else assert(run() == base, s"materialize mode '$mode' diverged")
      } finally sys.props.remove(Materialize.Prop)
    }
  }

  test("connectedComponents: chains contract to min-root stars; components stay separate") {
    import spark.implicits._
    // a 12-node path (worst case for naive diameter-bound propagation),
    // a triangle with a redundant edge, and a 2-node component
    val path = (1L to 11L).map(i => (i, i + 1))
    val edges = (path ++ Seq((20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L)))
      .toDF("u", "v")
    val stars = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (2L to 12L).map((1L, _)).toSet ++
      Set((20L, 21L), (20L, 22L), (30L, 31L))
    assert(stars == expect)
    // edge direction/duplication must not matter
    val messy = edges.select(col("v").as("u"), col("u").as("v"))
      .unionAll(edges).unionAll(edges.limit(3))
    val stars2 = Dedup.connectedComponents(messy)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stars2 == expect)
    // a 300-node path runs several two-round batches; each superseded
    // batch's checkpoint RDD is released, so once the result is
    // materialized only its own checkpoint is still persistent
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet.toSet
    val long = Dedup.connectedComponents((1L to 299L).map(i => (i, i + 1)).toDF("u", "v"))
    assert(long.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (2L to 300L).map((1L, _)).toSet)
    val held = Materialize.checkpointRdds(long).map(_.id).toSet
    assert(held.size == 1)
    assert(sc.getPersistentRDDs.keySet.toSet -- persisted == held)
  }

  test("d6 dup clusters: pairs transitively closed, min-id canonical, sizes consistent") {
    val pairs = Dedup.d3MinhashLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = Dedup.d6DupClusters(spark, sfDir).collect()
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every pair's endpoints land in the same cluster; every clustered
    // doc came from some pair
    pairs.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters")
    }
    assert(cluster.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // cluster id is the minimum member; exactly one canonical per cluster
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min == cid)
      assert(members.count(_.getBoolean(3)) == 1)
      assert(members.forall(_.getLong(2) == members.length))
    }
  }

  test("d5 embedding near-dup on harness data: bounded cosine, blocked by label") {
    val rows = Dedup.d5EmbeddingNearDup(spark, sfDir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val c = r.getAs[Double]("cosine")
      assert(c >= -1.0001 && c <= 1.0001)
    }
  }

  test("d8 segment dedup: planted shared 20-word block marks only that " +
       "segment; exact dup doc marks all; first occurrence is canonical") {
    import spark.implicits._
    val block = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (1 to 20).map(i => s"v$i").mkString(" ")
    val rows = Seq(
      (1L, block, "en", "s0", 1L),                  // canonical copy
      (2L, block, "en", "s0", 1L),                  // exact dup of 1
      (3L, s"$block $other", "en", "s0", 1L),       // shares seg0 with 1
      (4L, (1 to 10).map(i => s"u$i").mkString(" "), "en", "s1", 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft-d8").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Dedup.d8SegmentDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, 1L, 0L, 0.0, 20L, 20L),   // canonical: nothing dropped
      (2L, 1L, 1L, 1.0, 20L, 0L),    // exact dup: everything dropped
      (3L, 2L, 1L, 0.5, 40L, 20L),   // only the shared block dropped
      (4L, 1L, 0L, 0.0, 10L, 10L)))  // short doc: one 10-token segment
  }

  test("d8 on the corpus: matches a driver-side brute-force recomputation " +
       "(plain Scala segmentation + md5, no Spark expressions shared)") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val segs = docs.flatMap { case (id, text) =>
      text.split(" ", -1).grouped(20).zipWithIndex.map { case (seg, i) =>
        (id, i.toLong, md5hex(seg.mkString(" ")), seg.length.toLong)
      }
    }
    val canonical = segs.groupBy(_._3).view
      .mapValues(_.map(t => (t._1, t._2)).min).toMap
    val expected = segs.groupBy(_._1).view.mapValues { ss =>
      val dup = ss.filterNot(t => canonical(t._3) == ((t._1, t._2)))
      (ss.length.toLong, dup.length.toLong,
        BigDecimal(dup.length.toDouble / ss.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        ss.map(_._4).sum, ss.map(_._4).sum - dup.map(_._4).sum)
    }.toMap
    val out = Dedup.d8SegmentDedup(spark, sfDir).collect()
    assert(out.length == expected.size)
    out.foreach { r =>
      val id = r.getLong(0)
      val got = (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
        r.getLong(5))
      assert(got == expected(id), s"doc $id: got $got, want ${expected(id)}")
    }
    // the corpus's planted near-dups share aligned segments: the operator
    // must find real work even though NO document is an exact copy
    assert(out.exists(_.getLong(2) > 0), "no duplicated segments found")
  }

  test("d9 quality-canonical: one keeper per d6 cluster, argmax by " +
       "(quality, -doc_id), policy_differs consistent with the id policy") {
    val clusters = Dedup.queries("d6_dup_clusters")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val quality = graft.queries.TextAnalysis.queries("t2_quality_score")(
      spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val expected = clusters.groupBy(_._2).view.mapValues { ms =>
      val ranked = ms.map(_._1).sortBy(id => (-quality(id), id))
      (ranked.head, ms.length.toLong)
    }.toMap
    val out = Dedup.d9QualityCanonical(spark, sfDir).collect()
    assert(out.length == expected.size, "one row per cluster")
    out.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val (wantKeep, wantN) = expected(cid)
      assert(r.getAs[Long]("kept_doc") == wantKeep,
        s"cluster $cid kept ${r.getAs[Long]("kept_doc")}, want $wantKeep")
      assert(r.getAs[Long]("n_members") == wantN)
      assert(r.getAs[Double]("kept_quality") == quality(wantKeep))
      assert(r.getAs[Boolean]("policy_differs") == (wantKeep != cid))
    }
    // the operator only earns its keep if the quality policy actually
    // disagrees with lowest-id somewhere on this corpus
    assert(out.exists(_.getAs[Boolean]("policy_differs")),
      "quality argmax never differed from lowest-id; corpus too easy")
  }

  test("d10 planted spans: exact dups span their whole text; the near-dup's " +
       "span stops where the edited word enters the shingle window") {
    val rows = Dedup.d10DupSpans(spark, plantedDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 20-word docs, K=13: 8 shingle starts (0..7). Docs 1/2 are identical
    // so every shingle is cross-doc duplicated -> one maximal span of 8
    // shingles covering all 20 words. Doc 3 differs at word 18 (1-based),
    // which enters the 13-word window from start 5 on -> shared run is
    // starts 0..4, covering words 1..17. Docs 4 (12 words < K) and 5
    // produce no shingles at all.
    assert(rows.toSeq == Seq(
      (1L, 0L, 8L, 20L), (2L, 0L, 8L, 20L), (3L, 0L, 5L, 17L)))
  }

  test("d11 planted excisions: doc 3 keeps only its edited tail, and " +
       "overlapping spans from different partners merge without " +
       "double-deleting") {
    import spark.implicits._
    val rows = Dedup.d11SpanRemoval(spark, plantedDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // docs 1/2: wholly duplicated -> fully excised; doc 3: the d10 span
    // covers words 0..16, so only the edited-word tail survives
    assert(rows.toSeq == Seq(
      (1L, 1L, 20L, 20L, ""),
      (2L, 1L, 20L, 20L, ""),
      (3L, 1L, 20L, 17L, "sigmaX tau upsilon")))
    // overlap fixture: Y copies X[0..16], Z copies X[10..29] — X's two
    // spans ([0,16] from Y, [10,29] from Z, runs separated by unique
    // shingles 5..9) overlap in words 10..16 and must merge to ONE
    // excision of exactly 30 words (37 would be the double-delete bug)
    val dir = Files.createTempDirectory("graft-d11-overlap").toString
    val xs = (0 until 30).map(i => s"x$i")
    Seq(
      (1L, xs.mkString(" "), "en", "s0", 100L),
      (2L, xs.slice(0, 17).mkString(" "), "en", "s0", 100L),
      (3L, xs.slice(10, 30).mkString(" "), "en", "s0", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.d11SpanRemoval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 30L, 30L, ""),
      (2L, 1L, 17L, 17L, ""),
      (3L, 1L, 20L, 20L, "")))
  }

  test("d12 on the harness corpus == a brute-force delta-restricted " +
       "recompute (cross probe + self pairs + exact-dup flags)") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val isDelta = docs.map { case (id, _) =>
      id -> (md5hex(id.toString).substring(0, 2) >= Dedup.D12DeltaBucket)
    }.toMap
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 3) Set.empty
      else (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
    }
    val sh = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val ids = docs.map(_._1).sorted
    val partners = scala.collection.mutable.Map.empty[Long, List[Double]]
      .withDefaultValue(Nil)
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val (sa, sb) = (sh(a), sh(b))
      if (sa.nonEmpty && sb.nonEmpty) {
        val inter = (sa & sb).size
        // round-then-threshold, the engine's exact order
        val jr = math.round(inter.toDouble / (sa.size + sb.size - inter)
          * 10000).toDouble / 10000
        if (jr >= 0.5) { partners(a) ::= jr; partners(b) ::= jr }
      }
    }
    val byText = docs.groupBy(_._2)
    val expected = ids.filter(isDelta).map { id =>
      val twins = byText(docs.find(_._1 == id).get._2).map(_._1)
      val exact = twins.exists(t => !isDelta(t) || t < id)
      val ps = partners(id)
      (id, exact, ps.size.toLong,
        if (ps.isEmpty) 0.0 else ps.max)
    }
    val got = Dedup.d12DeltaNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected.toSeq)
    assert(got.exists(_._2) || got.exists(_._3 > 0),
      "harness corpus has planted dups; the delta should see some")
  }

  test("d10 on the harness corpus == a brute-force string-shingle " +
       "recompute; every span is maximal") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val K = 13
    val owners = scala.collection.mutable.Map.empty[String, (Long, Long)]
    for ((id, ws) <- docs; p <- 0 to ws.length - K) {
      val sh = ws.slice(p, p + K).mkString(" ")
      val (lo, hi) = owners.getOrElse(sh, (id, id))
      owners(sh) = (math.min(lo, id), math.max(hi, id))
    }
    val expected = docs.flatMap { case (id, ws) =>
      val dupPos = (0 to ws.length - K).filter { p =>
        val o = owners(ws.slice(p, p + K).mkString(" ")); o._1 != o._2
      }
      // islands over consecutive dup positions
      val spans = dupPos.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: tail, p) if p == e + 1 => (s, p) :: tail
        case (acc, p)                          => (p, p) :: acc
      }.reverse
      spans.collect { case (s, e) if e - s + 1 >= 3 =>
        (id, s.toLong, (e - s + 1).toLong, (e - s + K).toLong)
      }
    }.sortBy(t => (t._1, t._2))
    val got = Dedup.d10DupSpans(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected.toSeq)
    assert(got.nonEmpty, "harness corpus has planted dups; spans expected")
  }

  test("d13 semantic dedup: planted geometry — exact dups drop with the " +
       "SMALLEST-id keeper, cells block cross-cluster pairs, orthogonal " +
       "vectors survive") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-d13").toString
    def axis(i: Int, scale: Float = 1f): Array[Float] = {
      val a = Array.fill(8)(0f); a(i) = scale; a
    }
    // 10 vectors => every vector is its own s2 centroid. 5 = 2*e1 and
    // 8 = 3*e1 are parallel to 0 (cos 1.0, assignment tie broken to
    // cell 0); 6 = e1+e2 has cos 0.7071 with 0/5/8 but lands in its OWN
    // cell (cos 1.0 with itself beats 0.7071) — blocking must keep it.
    val v6 = { val a = Array.fill(8)(0f); a(0) = 1f; a(1) = 1f; a }
    ((0 to 4).map(i => (i.toLong, axis(i), i)) ++ Seq(
      (5L, axis(0, 2f), 0), (6L, v6, 1), (7L, axis(5), 2),
      (8L, axis(0, 3f), 0), (9L, axis(6), 3)))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Dedup.d13SemanticDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("kept_by"), r.getAs[Double]("cosine")))
    // 8's qualifying lower-id in-cell neighbors are 0 AND 5 — the
    // reported keeper must be the smallest (0), pinning the argmin rule
    assert(got.toSeq == Seq((5L, 0L, 0L, 1.0), (8L, 0L, 0L, 1.0)))
  }

  test("d13b skew companion: one cell holds >=50% of the augmented corpus, " +
       "every plant drops at trained-like cosine with a keeper below the " +
       "shift, and the organic drop set is row-identical to d13") {
    val sfDir = "/root/testdata/sf0.01"
    val organic = Dedup.d13bOrganic(spark, sfDir)
    val aug = Dedup.d13bAugmented(organic)
    val cells = Dedup.d13bCells(spark, sfDir)
    // fixture honesty: the dominant cell really dominates
    val total = aug.count()
    val biggest = cells.groupBy("cell").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc)
      .limit(1).collect()(0).getAs[Long]("count")
    assert(biggest * 2 >= total,
      s"dominant cell holds $biggest of $total — fixture lost its skew")
    val rows = Dedup.d13bSemanticDedupSkew(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("kept_by"),
        r.getAs[Double]("cosine")))
    val (plants, organicDrops) = rows.partition(_._1 >= Dedup.D13bIdShift)
    // every plant drops, keeper is an organic (below-shift) vector, and
    // the pair sits in the tight trained-embedding-like cosine band
    assert(plants.length == organic.count(),
      s"${plants.length} plants dropped, expected one per organic vector")
    assert(plants.forall(_._2 < Dedup.D13bIdShift))
    assert(plants.forall(_._3 >= 0.9),
      s"planted cosines dip below 0.9: ${plants.map(_._3).min}")
    // stability under the dominant cell: the organic slice is exactly d13
    val d13 = Dedup.d13SemanticDedup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("kept_by"),
        r.getAs[Double]("cosine")))
    assert(organicDrops.toSeq == d13.toSeq,
      "augmentation perturbed the organic drop set")
  }

  /** d13's pair stage as a self-join + `round(cosine_sim, 4)` filter +
    * `min_by` keeper pick — the composition `Dedup.d13Core` replaced,
    * kept here as its reference. */
  private def d13PairJoin(cells0: org.apache.spark.sql.DataFrame,
      subCap: Option[Long] = None): Set[(Long, Long, Long, Double)] = {
    val cells = Dedup.boundedSubCells(cells0, subCap)
    val a = cells.select(col("cell"), col("sub"), col("vec_id").as("kept_by"),
      col("embedding").as("emb_a"))
    val b = cells.select(col("cell").as("b_cell"), col("sub").as("b_sub"),
      col("vec_id"), col("embedding").as("emb_b"))
    a.join(b, col("cell") === col("b_cell") && col("sub") === col("b_sub")
        && col("kept_by") < col("vec_id"))
      .withColumn("cosine", round(cosine_sim(col("emb_a"), col("emb_b")), 4))
      .filter(col("cosine") >= Dedup.D13Threshold)
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cell"), col("kept_by"), col("cosine")),
        col("kept_by")).as("k"))
      .select(col("vec_id"), col("k.cell"), col("k.kept_by"), col("k.cosine"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
  }

  private def d13Scan(cells: org.apache.spark.sql.DataFrame, width: Int,
      subCap: Option[Long] = None): Set[(Long, Long, Long, Double)] =
    Dedup.d13Core(cells, width, subCap).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("kept_by"), r.getAs[Double]("cosine")))
      .toSet

  test("d13 pair stage: the keep-first scan equals the self-join + " +
       "round + min_by composition on planted edge cases — the HALF_UP " +
       "0.35 band edge, zero, length-mismatched and null-element " +
       "embeddings, (cell, sub) groups sharing one task, higher-id-only " +
       "neighbours and keeper chains") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.functions.CosineSim
    // (x, 1) has cosine x/sqrt(x²+1) with (1, 0): a float x for a target
    def at(c: Double): Array[Float] =
      Array((c / math.sqrt(1 - c * c)).toFloat, 1f)
    val e1 = Array(1f, 0f)
    val up = at(0.349952)   // raw in [0.34995, 0.35): rounds to 0.35
    val down = at(0.34994)  // raw above 0.3499, rounds to 0.3499
    assert(CosineSim.cosine(e1, up) >= 0.34995 &&
      CosineSim.cosine(e1, up) < 0.35, "fixture: up left its band")
    assert(CosineSim.round4(CosineSim.cosine(e1, down)) == 0.3499,
      "fixture: down left its band")
    def v(xs: java.lang.Float*): Seq[java.lang.Float] = xs
    val e1v = v(1f, 0f)
    val e2v = v(0f, 1f)
    val rows: Seq[(Long, Seq[java.lang.Float], Long)] = Seq(
      // cell 0: 2 drops at exactly 0.35 against 1
      (1L, e1v, 0L), (2L, v(up(0), up(1)), 0L),
      // cell 5: 51 sits at 0.3499 against 50 and stays
      (50L, e1v, 5L), (51L, v(down(0), down(1)), 5L),
      // cell 1: zero vectors never qualify, against anything
      (10L, v(0f, 0f), 1L), (11L, v(0f, 0f), 1L), (12L, e2v, 1L),
      // cell 2: 20 (length 3) and 21 (a null element) would keep 22 and
      // 23 if compared as a prefix or with the null read as 0, and 24
      // would drop the same way. Only 23 drops, kept by 22
      (20L, v(0f, 1f, 0f), 2L), (21L, v(null, 1f), 2L),
      (22L, e2v, 2L), (23L, e2v, 2L), (24L, v(null, 1f), 2L),
      // cell 3 holds a copy of cell 0's vector 1: blocked, never a pair
      (30L, e1v, 3L),
      // cell 4: 40's only qualifying neighbour is 41 (higher id), so 40
      // is kept; 42 is orthogonal to 40 and keeps 41, itself dropped
      (40L, v(1f, 0f), 4L), (41L, v(1f, 1f), 4L), (42L, v(0f, 1f), 4L)
    )
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("cell", LongType, nullable = false)))
    val cells = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, e, c) =>
        Row(id, e, c) }, 3), schema)
    val want = d13PairJoin(cells)
    assert(want == Set((2L, 0L, 1L, 0.35), (23L, 2L, 22L, 1.0),
      (41L, 4L, 40L, 0.7071), (42L, 4L, 41L, 0.7071)),
      s"fixture: the reference drop set moved: $want")
    Seq(1, 3).foreach(w => assert(d13Scan(cells, w) == want, s"width $w"))
    // an absolute cap of 2 splits cell 2 (5 rows) into 3 hash sub-cells
    // and cell 4 into 2: pairs across subs must vanish on both paths
    val split = d13PairJoin(cells, Some(2L))
    assert(split != want, "fixture: the sub-cell cap split nothing")
    assert(d13Scan(cells, 1, Some(2L)) == split)
  }

  test("d13 pair stage: the keep-first scan equals the self-join " +
       "composition on the harness corpus for d13, d13b and p5's " +
       "survivor cells") {
    Seq("d13" -> Dedup.d13Cells(spark, sfDir),
        "d13b" -> Dedup.d13bCells(spark, sfDir),
        "p5" -> graft.queries.Pipeline.semanticCells(spark, sfDir))
      .foreach { case (name, cells) =>
        val want = d13PairJoin(cells)
        assert(want.nonEmpty, s"$name: fixture has no drops")
        assert(d13Scan(cells, 4) == want, s"$name: scan != join")
      }
  }

  test("r14 d13 assignVia seam: default is exact (property unset), the " +
       "lsh path keeps the drop-rule invariants, and no sentinel cell " +
       "ever produces a pair") {
    val sfDir = "/root/testdata/sf0.01"
    assert(sys.props.get("graft.d13.assignVia").isEmpty)
    assert(Dedup.D13AssignVia == "exact")
    val exact = Dedup.d13SemanticDedup(spark, sfDir)
    val exactRows = exact.collect()
    System.setProperty("graft.d13.assignVia", "twolevel")
    try {
      val tl = Dedup.d13SemanticDedup(spark, sfDir)
      assert(tl.schema == exact.schema, "seam changed the output schema")
      val rows = tl.collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("cell"), r.getAs[Long]("kept_by"),
        r.getAs[Double]("cosine")))
      // the drop rule survives the assignment swap: keeper strictly
      // lower-id, cosine over threshold, and only REAL cells pair up
      // (a sentinel cell -vec_id-1 is a singleton by construction)
      assert(rows.forall { case (vid, _, kb, _) => kb < vid })
      assert(rows.forall(_._4 >= Dedup.D13Threshold))
      assert(rows.forall(_._2 >= 0L), "a sentinel cell produced a pair")
      // honest-recall bookkeeping, not a tight pin: the approximate
      // tier may legitimately diverge from exact; the overlap is
      // reported, and the clustered-corpus delta is measured in
      // SCALING.md
      val exactBy = exactRows.map(r =>
        r.getAs[Long]("vec_id") -> r.getAs[Long]("kept_by")).toMap
      val common = rows.filter(r => exactBy.contains(r._1))
      info(s"twolevel drops: ${rows.length}, exact drops: " +
        s"${exactRows.length}, common vec_ids: ${common.length}")
    } finally System.clearProperty("graft.d13.assignVia")
    // retired (`lsh`, `lshcap`) and typo'd tier names fail loudly on
    // both the standalone entry and the shared-cell path (p5/p6) —
    // never a silent fall-through to exact
    for (bad <- Seq("lsh", "lshcap", "nosuchtier")) {
      System.setProperty("graft.d13.assignVia", bad)
      try {
        for ((path, run) <- Seq[(String, () => Any)](
            "d13" -> (() => Dedup.d13SemanticDedup(spark, sfDir).collect()),
            "p5" -> (() => graft.queries.Pipeline
              .p5SemanticCuration(spark, sfDir).collect()))) {
          val err = intercept[RuntimeException](run())
          assert(err.getMessage.contains("unknown d13 assignVia tier"),
            s"wrong failure for '$bad' on $path: ${err.getMessage}")
        }
      } finally System.clearProperty("graft.d13.assignVia")
    }
  }

  test("r15 assignVia=auto: the pure rule splits on the calibrated " +
       "threshold, the near-uniform harness corpus resolves to exact " +
       "with output identical to the default path, and a clustered " +
       "fixture resolves to twolevel matching the explicit tier") {
    import spark.implicits._
    val rule = graft.queries.Similarity.decideAssignTier _
    // the pure rule, all branches + boundaries (>= is the contract on
    // both axes). Small corpora: geometry decides (the r15 rule).
    assert(rule(0.23, 500L) == "exact")
    assert(rule(0.60, 500L) == "twolevel")
    assert(rule(0.45, 500L) == "twolevel")
    // deep corpora (r16 — the corpus-size axis): the flat tier is the
    // measured-linear path once its recall floor clears ~0.9, on BOTH
    // geometries; boundary at the measured 200k floor
    assert(rule(0.23, 200000L) == "lshflat")
    assert(rule(0.60, 2000000L) == "lshflat")
    assert(rule(0.23, 199999L) == "exact")
    // degenerate probe (empty sample) must fall back to exact, never
    // throw and never route a corpus it knows nothing about (ADVICE r15)
    assert(rule(Double.NaN, 2000000L) == "exact")

    // near-uniform: the harness corpus sits well below the threshold
    // (SCALING.md calibration: main reads 0.23-0.28), so auto must pick
    // exact and produce the bit-identical default output
    val sfDir = "/root/testdata/sf0.01"
    val probed = graft.queries.Similarity.assignMarginProbe(
      graft.sources.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")))
      .head().getAs[Double]("mean_top1")
    assert(probed < graft.queries.Similarity.AutoTop1Threshold,
      s"fixture honesty: harness corpus no longer near-uniform ($probed)")
    val exact = Dedup.d13SemanticDedup(spark, sfDir).collect().toSeq
    System.setProperty("graft.d13.assignVia", "auto")
    try {
      assert(Dedup.resolveAssignVia(spark, sfDir) == "exact")
      val auto = Dedup.d13SemanticDedup(spark, sfDir).collect().toSeq
      assert(auto == exact, "auto-resolved exact diverged from default")
    } finally System.clearProperty("graft.d13.assignVia")

    // clustered: 3 tight clusters (cos ~0.995 within, ~0 across) around
    // orthogonal axes; any idMix-seeded centroid is a cluster member, so
    // every vector's top-1 cosine is near 1 and auto must pick twolevel
    val dir = java.nio.file.Files.createTempDirectory("graft-d13auto").toString
    val rows = (0L until 600L).map { i =>
      val k = (i % 3).toInt
      val a = Array.fill(8)(0f)
      a(k) = 1f
      a(3 + ((i / 3) % 3).toInt) = 0.1f // deterministic within-cluster jitter
      (i, a, k)
    }
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val clustered = graft.queries.Similarity.assignMarginProbe(
      graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")))
      .head().getAs[Double]("mean_top1")
    assert(clustered >= graft.queries.Similarity.AutoTop1Threshold,
      s"fixture honesty: clusters not tight enough ($clustered)")
    System.setProperty("graft.d13.assignVia", "auto")
    val autoDrops = try {
      assert(Dedup.resolveAssignVia(spark, dir) == "twolevel")
      Dedup.d13SemanticDedup(spark, dir).collect().toSeq
    } finally System.clearProperty("graft.d13.assignVia")
    System.setProperty("graft.d13.assignVia", "twolevel")
    val tlDrops = try {
      Dedup.d13SemanticDedup(spark, dir).collect().toSeq
    } finally System.clearProperty("graft.d13.assignVia")
    assert(autoDrops == tlDrops,
      "auto-resolved twolevel diverged from the explicit tier")
    info(s"harness mean_top1=$probed -> exact; " +
      s"clustered fixture mean_top1=$clustered -> twolevel " +
      s"(${autoDrops.length} drops)")
  }

  test("r17 auto probe-cache invalidation (VERDICT r16 #6): a corpus " +
       "REGENERATED at the same path gets a fresh tier decision (the " +
       "memo key carries the corpus stamp); the stamp also watches " +
       "documents.parquet (ADVICE r16) and reads 0 — unstampable, " +
       "never memoized — for a path with neither table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-d13stale").toString
    // generation 1: the near-uniform harness geometry, verbatim — small
    // + near-uniform resolves exact (fixture honesty asserted below)
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    System.setProperty("graft.d13.assignVia", "auto")
    try {
      assert(Dedup.resolveAssignVia(spark, dir) == "exact",
        "fixture honesty: harness geometry no longer resolves exact")
      // generation 2, SAME path: the clustered twolevel fixture — a
      // stale memo would keep serving exact here
      (0L until 600L).map { i =>
        val k = (i % 3).toInt
        val a = Array.fill(8)(0f)
        a(k) = 1f
        a(3 + ((i / 3) % 3).toInt) = 0.1f
        (i, a, k)
      }.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      assert(Dedup.resolveAssignVia(spark, dir) == "twolevel",
        "regenerated corpus kept the stale cached tier")
    } finally System.clearProperty("graft.d13.assignVia")
    // the stamp's axes: documents.parquet mtime is folded in, so a
    // regenerated documents table (s11's lang slice) invalidates too
    val st1 = graft.queries.Similarity.corpusStamp(dir)
    assert(st1 != 0L)
    Thread.sleep(5) // mtime granularity headroom
    Seq((1L, "t", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val st2 = graft.queries.Similarity.corpusStamp(dir)
    assert(st2 != st1, "writing documents.parquet did not move the stamp")
    assert(graft.queries.Similarity.corpusStamp(s"$dir/nope") == 0L,
      "a path with neither table must read unstampable")
  }
}
