package graft

import graft.queries.Pipeline

class PipelineSpec extends SparkSpec {

  test("p1 funnel: every stage discriminates on a planted corpus and " +
       "the totals are the hand-computed ones") {
    import spark.implicits._
    // 10 'the' + 40 unique words: quality = 0.5·1 + 0.3·1 + 0.2·1 = 1.0
    val good = (Seq.fill(10)("the") ++ (1 to 40).map(i => s"w$i")).mkString(" ")
    // one CJK token → predicted zh (langid drop) but quality still passes
    val cjk = (Seq.fill(10)("the") ++ (1 to 39).map(i => s"w$i") :+ "中")
      .mkString(" ")
    // 2 words, no stopwords, 4 punct chars in 9: quality ≈ 0.187 (q drop)
    val junk = "xxxx !!!!"
    val rows = Seq(
      (1L, good, "en", "s0", good.length.toLong),
      (2L, good, "en", "s0", good.length.toLong),  // exact dup of doc 1
      (3L, junk, "en", "s0", junk.length.toLong),
      (4L, cjk, "zh", "s0", cjk.length.toLong))
    val dir = java.nio.file.Files.createTempDirectory("graft-p1").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Pipeline.p1CurationFunnel(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("a_ingest", 4L, 152L),   // 50 + 50 + 2 + 50 tokens
      ("b_quality", 3L, 150L),  // junk dropped
      ("c_langid", 2L, 100L),   // cjk doc dropped
      ("d_dedup", 1L, 50L)))    // doc 2 loses to doc 1 on the fingerprint
  }

  test("p2 funnel: the near-dup stage drops a non-canonical cluster " +
       "member that survived every earlier stage") {
    import spark.implicits._
    val good = (Seq.fill(10)("the") ++ (1 to 40).map(i => s"w$i")).mkString(" ")
    // same text with ONE word swapped: different md5 (survives d_dedup),
    // 3-shingle Jaccard ~0.87 (a verified d3 near-dup pair with doc 1)
    val near = (Seq.fill(10)("the") ++ (1 to 39).map(i => s"w$i") :+ "x1")
      .mkString(" ")
    val cjk = (Seq.fill(10)("the") ++ (1 to 39).map(i => s"w$i") :+ "中")
      .mkString(" ")
    val junk = "xxxx !!!!"
    val rows = Seq(
      (1L, good, "en", "s0", good.length.toLong),
      (2L, good, "en", "s0", good.length.toLong),  // exact dup: d drops it
      (3L, junk, "en", "s0", junk.length.toLong),  // b drops it
      (4L, cjk, "zh", "s0", cjk.length.toLong),    // c drops it
      (5L, near, "en", "s0", near.length.toLong))  // e drops it (cluster {1,5})
    val dir = java.nio.file.Files.createTempDirectory("graft-p2").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Pipeline.p2CurationFunnelNearDup(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("a_ingest", 5L, 202L),
      ("b_quality", 4L, 200L),
      ("c_langid", 3L, 150L),
      ("d_dedup", 2L, 100L),    // docs 1 and 5 survive exact dedup
      ("e_neardup", 1L, 50L)))  // doc 5 is the cluster's non-canonical member
  }

  test("p2 returns identical rows under cache, localCheckpoint, and none " +
       "(the Materialize knob is a pure cost choice)") {
    def rows(mode: String): Seq[String] = {
      val old = sys.props.get(graft.Materialize.Prop)
      sys.props(graft.Materialize.Prop) = mode
      try Pipeline.p2CurationFunnelNearDup(spark, sfDir).collect()
        .map(_.toString).toSeq
      finally old match {
        case Some(v) => sys.props(graft.Materialize.Prop) = v
        case None => sys.props.remove(graft.Materialize.Prop)
      }
    }
    val base = rows("cache")
    assert(base.nonEmpty)
    assert(rows("localCheckpoint") == base)
    assert(rows("none") == base)
  }

  test("p2 funnel: stages a-d equal p1's on the harness corpus " +
       "(the near-dup stage only ever drops further)") {
    val p1 = Pipeline.p1CurationFunnel(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val p2 = Pipeline.p2CurationFunnelNearDup(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(p2.take(4).toSeq == p1.toSeq)
    val d = p2(3); val e = p2(4)
    assert(e._1 == "e_neardup" && e._2 <= d._2 && e._3 <= d._3)
  }

  test("p3 returns identical rows under cache, localCheckpoint, and none " +
       "(the vocab materialization is a pure cost choice)") {
    def rows(mode: String): Seq[String] = {
      val old = sys.props.get(graft.Materialize.Prop)
      sys.props(graft.Materialize.Prop) = mode
      try Pipeline.p3CurationV2(spark, sfDir).collect()
        .map(_.toString).toSeq
      finally old match {
        case Some(v) => sys.props(graft.Materialize.Prop) = v
        case None => sys.props.remove(graft.Materialize.Prop)
      }
    }
    val cache = rows("cache")
    assert(cache == rows("localCheckpoint") && cache == rows("none"))
  }

  test("p3 funnel v2: stages monotone, quota bounded by sources x cap, " +
       "segment stage trims tokens without inventing docs") {
    val out = Pipeline.p3CurationV2(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(
      "a_ingest", "b_quality", "c_surprisal", "d_quota", "e_segdedup"))
    // docs and tokens never increase down the funnel
    out.sliding(2).foreach { case Array(hi, lo) =>
      assert(lo._2 <= hi._2 && lo._3 <= hi._3, s"$lo exceeds $hi")
    }
    assert(out(0)._2 == 500L)
    // every stage keeps something and drops something on the corpus
    assert(out.last._3 > 0)
    assert(out(2)._2 < out(1)._2, "surprisal gate dropped nothing")
    // quota: at most 15 per each of the 20 sources
    assert(out(3)._2 <= 20L * 15)
  }

  test("r14 p5 under the assignVia=lsh seam: the shared cell artifact " +
       "keys by mode, the funnel stays monotone, and the semantic stage " +
       "still discriminates") {
    val dir = "/root/testdata/sf0.01"
    val exact = graft.queries.Pipeline.p5SemanticCuration(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    System.setProperty("graft.d13.assignVia", "twolevel")
    try {
      val tl = graft.queries.Pipeline.p5SemanticCuration(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(tl.map(_._1).toSeq == exact.map(_._1).toSeq)
      tl.sliding(2).foreach { case Array(hi, lo) =>
        assert(lo._2 <= hi._2 && lo._3 <= hi._3, s"$lo exceeds $hi")
      }
      // stages a-d are semantic-stage-independent: identical either way
      assert(tl.take(4).toSeq == exact.take(4).toSeq,
        "twolevel assignment perturbed a pre-semantic stage")
      // the twolevel drop set may differ from exact (approximate
      // assignment) but the stage must still do real work
      assert(tl.last._2 < tl(3)._2, "twolevel semantic stage dropped nothing")
      info(s"e_semantic survivors — exact: ${exact.last._2}, " +
        s"twolevel: ${tl.last._2}")
    } finally System.clearProperty("graft.d13.assignVia")
  }
}
