package graft

import org.apache.spark.sql.Row
import graft.queries.TextAnalysis

class TextAnalysisSpec extends SparkSpec {

  test("t1 token counts: whitespace, regex word-pieces, punct residue") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox", "en", "s", 19L),
      (2L, "a,b c!", "en", "s", 6L),          // punct: ',' and '!'
      (3L, "x  y", "en", "s", 4L)             // double space -> empty token
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    df.createOrReplaceTempView("documents")
    val out = TextAnalysis.t1TokenCount(spark, sfDir) // reads real table
    assert(out.columns.toSeq ==
      Seq("doc_id", "ws_tokens", "word_tokens", "punct_chars", "n_chars"))

    // semantics on planted rows via the same expressions
    import org.apache.spark.sql.functions._
    val r = df.select(
      size(split($"text", " ")).as("ws"),
      regexp_count($"text", lit("[a-z0-9]+")).as("wp"),
      regexp_count($"text", lit("[^a-z0-9 ]")).as("pc")
    ).collect()
    assert(r(0) == Row(4, 4, 0))
    assert(r(1) == Row(2, 3, 2))  // "a,b c!" -> ws ["a,b","c!"], words a|b|c
    assert(r(2) == Row(3, 2, 0))  // "x  y" -> ["x","","y"]
  }

  test("t2 quality score is bounded and deterministic on real data") {
    val out = TextAnalysis.t2QualityScore(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0, s"quality out of bounds: $r")
      val sr = r.getAs[Double]("stop_ratio")
      assert(sr >= 0.0 && sr <= 1.0)
    }
  }

  test("t3 langid predicts en/und on the synthetic corpus and zh on CJK") {
    val out = TextAnalysis.t3LangId(spark, sfDir).collect()
    val preds = out.map(_.getAs[String]("predicted")).toSet
    // synthetic corpus is latin-script tech words: only en/und reachable
    assert(preds.subsetOf(Set("en", "und")))
    // counts sum to the corpus size
    assert(out.map(_.getAs[Long]("n_docs")).sum == 500L)
  }

  test("rolling_hash: known values, O(n) window count, short-string empty") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.TextHashFunctions.rolling_hash
    val rows = Seq("ab", "abcab", "x").toDF("s")
      .select(rolling_hash(col("s"), 2).as("h")).collect()
      .map(_.getSeq[Long](0))
    // k=2, base 131: h("ab") = (97*131 + 98) mod (2^31-1) = 12805
    assert(rows(0) == Seq(12805L))
    // "abcab": windows ab bc ca ab — first and last must collide exactly
    assert(rows(1).length == 4)
    assert(rows(1).head == rows(1).last)
    assert(rows(1).head == 12805L)
    assert(rows(2) == Seq.empty) // shorter than the window
  }

  test("sliding_min: deque window minimum matches brute force on known arrays") {
    import graft.functions.SlidingMin
    assert(SlidingMin.mins(Array(5L, 3L, 8L, 1L, 9L, 2L), 3).toSeq ==
      Seq(3L, 1L, 1L, 1L))
    assert(SlidingMin.mins(Array(1L, 2L, 3L), 1).toSeq == Seq(1L, 2L, 3L))
    assert(SlidingMin.mins(Array(2L, 1L), 3).toSeq == Seq.empty)
    // randomized cross-check vs brute force
    val rnd = new scala.util.Random(1)
    for (_ <- 1 to 50) {
      val a = Array.fill(rnd.nextInt(40) + 1)(rnd.nextLong() % 1000)
      val w = rnd.nextInt(6) + 1
      val brute =
        if (a.length < w) Seq.empty
        else (0 to a.length - w).map(i => a.slice(i, i + w).min)
      assert(SlidingMin.mins(a, w).toSeq == brute, s"w=$w a=${a.mkString(",")}")
    }
  }

  test("t5 winnowing: identical docs share fingerprints; count bounded by windows") {
    val out = TextAnalysis.t5WinnowFingerprint(spark, sfDir).collect()
    assert(out.length == 500)
    out.foreach { r =>
      assert(r.getAs[Int]("n_fingerprints") <= r.getAs[Int]("n_windows"))
      assert(r.getAs[Int]("n_fingerprints") > 0) // all docs >= 8 chars
    }
    // winnowing guarantee on shared substrings: two docs built from the
    // same text must produce the identical fingerprint summary
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-winnow").toString
    val t = "the quick brown fox jumps over the lazy dog again and again"
    Seq((1L, t, "en", "s", t.length.toLong), (2L, t, "en", "s", t.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val twin = TextAnalysis.t5WinnowFingerprint(spark, dir).collect()
    assert(twin(0).getAs[Long]("min_fp") == twin(1).getAs[Long]("min_fp"))
    assert(twin(0).getAs[Int]("n_fingerprints") == twin(1).getAs[Int]("n_fingerprints"))
  }

  test("t7 stratified sample: rates honored per stratum, weights exact, id-stable") {
    import org.apache.spark.sql.functions._
    val out = TextAnalysis.t7StratifiedSample(spark, sfDir)
    val byLang = out.groupBy("lang")
      .agg(count(lit(1)).as("n"), first("weight").as("w"))
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n"), r.getAs[Double]("w"))).toMap
    // corpus: en 218, zh 75, de 70, es 73, fr 64 (sf0.01). A 16-bit md5
    // uniform at rate r keeps ~r·n ± binomial noise; bounds are ~4 sigma.
    val expect = Map("en" -> (218, 0.25, 4.0), "zh" -> (75, 0.75, 1.3333),
      "de" -> (70, 0.5, 2.0), "es" -> (73, 0.5, 2.0), "fr" -> (64, 0.5, 2.0))
    for ((lang, (n, rate, w)) <- expect) {
      val (got, gotW) = byLang(lang)
      val sigma = math.sqrt(n * rate * (1 - rate))
      assert(math.abs(got - n * rate) <= 4 * sigma + 1,
        s"$lang: kept $got of $n at rate $rate")
      assert(gotW == w, s"$lang weight $gotW != $w")
    }
    // membership is a pure function of doc_id: the same corpus under a
    // different partition layout yields the identical sample (the
    // property a seeded sample() lacks — its draw depends on partition
    // boundaries)
    val dir = java.nio.file.Files.createTempDirectory("graft-t7").toString
    spark.read.parquet(s"$sfDir/documents.parquet").repartition(7)
      .write.parquet(s"$dir/documents.parquet")
    val again = TextAnalysis.t7StratifiedSample(spark, dir)
    assert(out.collect().toSeq == again.collect().toSeq)
  }

  test("t8 contamination: planted cross-split dup scores 1.0, partial " +
       "overlap counts exactly its shared shingles, clean doc scores 0.0") {
    import spark.implicits._
    // split membership is md5(doc_id)[0,2) < "cd": ids 1,2 -> train
    // (c4…, c8…); ids 3,5,10 -> val (ec…, e4…, d3…)
    val trainText = (1 to 10).map(i => s"w$i").mkString(" ")  // 6 5-shingles
    val halfText = ((1 to 5).map(i => s"w$i") ++ (1 to 5).map(i => s"n$i"))
      .mkString(" ")                       // shares exactly 1 shingle: w1..w5
    val rows = Seq(
      (1L, trainText, "en", "s0", trainText.length.toLong),
      (2L, (1 to 9).map(i => s"q$i").mkString(" "), "en", "s0", 10L),
      (3L, trainText, "en", "s0", trainText.length.toLong),
      (5L, halfText, "en", "s0", halfText.length.toLong),
      (10L, (1 to 10).map(i => s"z$i").mkString(" "), "en", "s0", 10L))
    val dir = java.nio.file.Files.createTempDirectory("graft-t8").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.t8Contamination(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (3L, 6L, 6L, 1.0),      // byte-identical leak across the split
      (5L, 6L, 1L, 0.1667),   // one shared 5-shingle of six
      (10L, 6L, 0L, 0.0)))    // clean val doc still reported
  }

  test("t9 rare tokens: corpus frequencies drive per-doc rare ratios; " +
       "every occurrence of a rare token counts") {
    import spark.implicits._
    // corpus freqs: a=3 (common), b=c=d=1, e=2 (all rare at <=2)
    val rows = Seq(
      (1L, "a a b", "en", "s0", 5L),   // 3 tokens, 1 rare -> 0.3333
      (2L, "a c d", "en", "s0", 5L),   // 3 tokens, 2 rare -> 0.6667
      (3L, "e e", "en", "s0", 3L))     // freq-2 token: both occurrences rare
    val dir = java.nio.file.Files.createTempDirectory("graft-t9").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.t9RareTokens(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (3L, 2L, 2L, 1.0),
      (2L, 3L, 2L, 0.6667),
      (1L, 3L, 1L, 0.3333)))
  }

  test("t10 sequence packing: chunk of a doc = window of its first token; " +
       "straddling docs keep their mass in the starting chunk") {
    import spark.implicits._
    def toks(n: Int) = Seq.fill(n)("w").mkString(" ")
    // s0 stream: 2000 + 100 + 100 tokens -> cum_before 0, 2000, 2100:
    // docs 1,2 start in chunk 0 (mass 2100, fill > 1), doc 3 in chunk 1.
    // s1: one 10-token doc -> chunk 0.
    val rows = Seq(
      (1L, toks(2000), "en", "s0", 1L),
      (2L, toks(100), "en", "s0", 1L),
      (3L, toks(100), "en", "s0", 1L),
      (4L, toks(10), "en", "s1", 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft-t10").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.t10SequencePacking(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("s0", 0L, 2L, 2100L, 1.0254),
      ("s0", 1L, 1L, 100L, 0.0488),
      ("s1", 0L, 1L, 10L, 0.0049)))
  }

  test("t11 repetition: rep_ratio counts occurrences of repeated types, " +
       "top_share is the modal type's mass") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a a a b", "en", "s0", 7L),  // types {a:3,b:1}: rep 3/4, top 3/4
      (2L, "a b c d", "en", "s0", 7L),  // all singletons: rep 0, top 1/4
      (3L, "x x", "en", "s1", 3L))      // fully repeated: rep 1, top 1
    val dir = java.nio.file.Files.createTempDirectory("graft-t11").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.t11Repetition(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (1L, "s0", 4L, 2L, 0.75, 0.75),
      (2L, "s0", 4L, 4L, 0.0, 0.25),
      (3L, "s1", 2L, 1L, 1.0, 1.0)))
  }

  test("t12 surprisal: bits = floor(log2(total/freq)) on a hand-computed " +
       "corpus; integer path never touches a float log") {
    import spark.implicits._
    // corpus freqs: a:2 b:2 c:1, total 5
    // bits: a,b -> 5 div 2 = 2 -> 1 bit; c -> 5 div 1 = 5 -> 2 bits
    val rows = Seq(
      (1L, "a a b", "en", "s0", 5L),  // bits_sum 2*1+1 = 3, mean 1.0
      (2L, "b c", "en", "s0", 3L))    // bits_sum 1+2 = 3, mean 1.5
    val dir = java.nio.file.Files.createTempDirectory("graft-t12").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.t12Surprisal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 3L, 3L, 1.0), (2L, 2L, 3L, 1.5)))
  }

  test("t12 surprisal on the corpus: every doc scored, bits bounded by " +
       "the corpus size's bit length") {
    val out = TextAnalysis.t12Surprisal(spark, sfDir).collect()
    assert(out.length == 500)
    // total occurrences fit in well under 2^63: mean bits must too
    out.foreach { r =>
      val mb = r.getAs[Double]("mean_bits")
      assert(mb >= 0.0 && mb < 64.0, s"mean_bits out of range: $r")
    }
  }

  test("t13 source quota: exactly 15 per source, ranks contiguous, and " +
       "the kept set is the md5-order prefix recomputed independently") {
    import org.apache.spark.sql.functions._
    val out = TextAnalysis.t13SourceQuota(spark, sfDir).collect()
    val bySource = out.groupBy(_.getAs[String]("source"))
    assert(bySource.size == 20 && out.length == 300)
    bySource.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 15))
    }
    // independent recomputation: collect all (source, md5hex, doc_id),
    // sort in Scala, take 15 per source
    val all = graft.sources.Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(1)))
    val expected = all.groupBy(_._1).view.mapValues(
      _.sortBy(t => (t._2, t._3)).take(15).map(_._3).toSet).toMap
    bySource.foreach { case (src, rs) =>
      assert(rs.map(_.getAs[Long]("doc_id")).toSet == expected(src))
    }
  }

  test("t14 vocab overlap: hand-computed Jaccard on planted sources; " +
       "occurrence counts do not inflate the set arithmetic") {
    import spark.implicits._
    val rows = Seq(
      // s0 vocab {a,b,c,d}; repeats must not count twice
      (1L, "a b c d a a b", "en", "s0", 1L),
      // s1 vocab {c,d,e,f}: intersection {c,d}, union 6 -> 2/6
      (2L, "c d e f", "en", "s1", 1L),
      // s2 vocab {x}: disjoint from both
      (3L, "x x x", "en", "s2", 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft-t14").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.t14SourceVocabOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(("s0", "s1", 4L, 4L, 2L, 0.3333)))
    // disjoint pairs produce no row at all (inner join on shared tokens)
    assert(!out.exists(p => p._1 == "s2" || p._2 == "s2"))
  }

  test("t4 fingerprints: md5 is stable and distinct_fp <= n_docs") {
    val out = TextAnalysis.t4Fingerprint(spark, sfDir).collect()
    assert(out.length == 20) // 20 sources
    out.foreach { r =>
      assert(r.getAs[Long]("distinct_fp") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[String]("min_fp").matches("[0-9a-f]{32}"))
    }
  }

  test("t15 mixture sampling: budget realization invariants on the corpus") {
    val out = TextAnalysis.t15MixtureSample(spark, sfDir).collect()
    assert(out.length == 20) // one row per source, none vanish
    var totalTarget = 0L
    var totalSampled = 0L
    out.foreach { r =>
      val avail = r.getAs[Long]("avail_tok")
      val target = r.getAs[Long]("target_tok")
      val rate = r.getAs[Double]("rate")
      val weight = r.getAs[Double]("weight")
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("tok_sampled") <= avail)
      assert(rate > 0.0 && rate <= 1.0)
      // over-subscribed source: keeps everything at weight 1
      if (avail <= target) {
        assert(rate == 1.0 && weight == 1.0)
        assert(r.getAs[Long]("n_sampled") == r.getAs[Long]("n_docs"))
        assert(r.getAs[Long]("tok_sampled") == avail)
      } else {
        // under-subscribed: importance weight is the rate inverse (to
        // rounding) and the realized mass cannot exceed what an exact
        // per-doc threshold could admit
        assert(weight >= 1.0)
        assert(math.abs(rate * weight - 1.0) < 2e-3)
      }
      totalTarget += target
      totalSampled += r.getAs[Long]("tok_sampled")
    }
    // the mixture weights sum to 1, so the summed targets realize the
    // global budget (total div 2) up to 20 per-source floors
    val totalAvail = out.map(_.getAs[Long]("avail_tok")).sum
    assert(totalTarget <= totalAvail / 2)
    assert(totalTarget >= totalAvail / 2 - 20)
    // a 16-bit-uniform doc sample concentrates near the target; at this
    // SF just pin it to the right order (not a statistical test)
    assert(totalSampled > 0)
  }

  test("t16 split leakage: endpoints respect the t6 split and every " +
       "reported doc has at least one train-side near-dup") {
    val out = TextAnalysis.t16SplitLeakage(spark, sfDir).collect()
    def isTrain(id: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      f"${md(0) & 0xff}%02x" < "cd"
    }
    out.foreach { r =>
      assert(!isTrain(r.getAs[Long]("val_doc")),
        s"val_doc ${r.getAs[Long]("val_doc")} is in train")
      assert(r.getAs[Long]("n_train_dups") >= 1L)
      val j = r.getAs[Double]("max_jaccard")
      assert(j >= 0.5 && j <= 1.0) // verified-pair threshold carries over
    }
    // cross-check one side against the pair set: every val endpoint of a
    // mixed pair appears in the audit
    val pairs = graft.queries.Dedup.queries("d3_minhash_lsh")(spark, sfDir)
      .collect()
    val expected = pairs.flatMap { p =>
      val (a, b) = (p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))
      Seq(a -> b, b -> a)
    }.filter { case (v, t) => !isTrain(v) && isTrain(t) }
      .map(_._1).distinct.sorted
    assert(out.map(_.getAs[Long]("val_doc")).toSeq.sorted.sameElements(expected))
  }

  test("t18: counts and redacts every email/phone/IP occurrence; clean " +
       "docs emit nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-t18").toString
    Seq(
      (1L, "reach a.smith+x@mail.co.uk or bob@ex.org call 555-0042 " +
        "and 555-9999 from 192.168.0.1 ok", "en", "s0", 10L),
      (2L, "plain clean words only", "en", "s0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t18PiiRedaction(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    // doc 2 is clean -> no row (precision); neither id is % 25 == 0, so
    // the planted augmentation adds nothing here
    assert(got.toSeq == Seq(
      (1L, 2, 2, 1,
        "reach <EMAIL> or <EMAIL> call <PHONE> and <PHONE> from <IP> ok")))
  }

  test("t19 gopher rules: each rule fails on its own planted doc and the " +
       "conjunction gates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-t19").toString
    // doc 1: 30 copies of one word -> distinct 1/30 fails, zero stops
    //        fails; mean_wlen exactly 4.0 passes (boundary inclusive)
    // doc 2: 20 words (boundary), mean (3+3+18*5)/20 = 4.8, two stops,
    //        all distinct -> passes every rule
    // doc 3: 10 words -> fails the word-count floor
    val passing = s"the and ${(1 to 18).map(i => f"tok$i%02d").mkString(" ")}"
    Seq(
      (1L, Seq.fill(30)("word").mkString(" "), "en", "s0", 149L),
      (2L, passing, "en", "s0", 115L),
      (3L, (1 to 10).map(i => f"tok$i%02d").mkString(" "), "en", "s0", 59L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t19GopherRules(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("r_nwords"),
        r.getAs[Boolean]("r_meanlen"), r.getAs[Boolean]("r_stops"),
        r.getAs[Boolean]("r_distinct"), r.getAs[Boolean]("pass")))
    assert(got.toSeq == Seq(
      // doc 1: mean_wlen exactly 4.0 passes (boundary inclusive)
      (1L, true, true, false, false, false),
      (2L, true, true, true, true, true),
      // doc 3: mean_wlen exactly 5.0 also passes the inclusive ceiling
      (3L, false, true, false, true, false)))
  }

  test("t20 bigram LM: hand-computed pair counts, marginals and " +
       "conditional probabilities; tail pruned AFTER the marginal") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-t20").toString
    // "a b a b ... a b": 31 "a b" pairs, 30 "b a" pairs -> both survive
    // the >=30 prune; P(b|a) = 31/31, P(a|b) = 30/30
    Seq((1L, Seq.fill(31)("a b").mkString(" "), "en", "s0", 123L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t20BigramLm(spark, dir).collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("n_pair"), r.getAs[Long]("n_w1"),
        r.getAs[Double]("p_cond")))
    assert(got.toSeq == Seq(
      ("a", "b", 31L, 31L, 1.0),
      ("b", "a", 30L, 30L, 1.0)))
  }

  test("t21 vocab growth: planted one-doc-per-decile corpus gives exact " +
       "cumulative token and vocabulary counts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-t21").toString
    // ids 0..9 (span 10) -> doc d lands alone in bucket d+1; each doc
    // contributes one fresh type plus the shared one
    (0 to 9).map(d => (d.toLong, s"w$d shared", "en", "s0", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t21VocabGrowth(spark, dir).collect()
      .map(r => (r.getAs[Int]("decile"), r.getAs[Long]("docs_cum"),
        r.getAs[Long]("tokens_cum"), r.getAs[Long]("vocab_cum")))
    assert(got.toSeq == (1 to 10).map(d =>
      (d, d.toLong, 2L * d, d + 1L)))
    // type-token ratio at the last decile: 11 types / 20 tokens
    val ttr = TextAnalysis.t21VocabGrowth(spark, dir).collect()
      .last.getAs[Double]("ttr")
    assert(ttr == 0.55)
  }

  test("t22 dup n-grams: planted trigram repeats hand-count; all-distinct " +
       "docs score zero; sub-width docs emit nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-t22").toString
    // doc 1: a b a b a -> trigrams (a b a), (b a b), (a b a): 3 grams,
    //        2 distinct, dup_occ 2 (both "a b a" occurrences)
    // doc 2: five distinct tokens -> 3 grams, all distinct, dup 0
    // doc 3: two tokens -> no trigram, no row
    Seq(
      (1L, "a b a b a", "en", "s0", 9L),
      (2L, "v w x y z", "en", "s0", 9L),
      (3L, "p q", "en", "s0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t22DupNgrams(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("dup_occ"),
        r.getAs[Double]("dup_ratio")))
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, 2L, 0.6667),
      (2L, 3L, 3L, 0L, 0.0)))
  }

  test("t23 DSIR importance: planted two-bucket corpus gives hand-computed " +
       "quantized log-ratios and an exact top-50 threshold cut") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-t23").toString
    // Two feature buckets by construction ("x x" -> 138, "y y" -> 404
    // under the acc*131+code mod 1000003 mod 512 fold — no collision).
    // 5 en docs "x x x" (2 bigrams each): bucket_x n_r = n_t = 10.
    // 55 de docs, doc m = m+1 "y" tokens = m bigrams, m = 1..55:
    // bucket_y n_r = 1540, n_t = 0.
    // Per-occurrence contributions: x: bits(11)-bits(11) = 0;
    // y: bits(1)-bits(1541) = 0 - 10 = -10.
    // Normalizer: bits(1550+512) - bits(10+512) = 11 - 9 = +2 per bigram.
    // => en score 2*0+2*2 = 4; de doc m score -10m+2m = -8m.
    // Top-50 = 5 en + de m=1..45 -> kth = -360 -> de m>45 unselected.
    val en = (1 to 5).map(i =>
      (i.toLong, "x x x", "en", "s0", 5L))
    val de = (1 to 55).map(m =>
      (100L + m, Seq.fill(m + 1)("y").mkString(" "), "de", "s0", 9L))
    (en ++ de).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t23DsirImportance(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_bits"),
        r.getAs[Double]("bits_per_bigram"), r.getAs[Boolean]("selected")))
    val exp =
      (1 to 5).map(i => (i.toLong, 4L, 2.0, true)) ++
      (1 to 55).map(m => (100L + m, -8L * m, -8.0, m <= 45))
    assert(got.toSeq == exp)
  }

  // independent reference: canonical BPE (count ALL adjacent pairs,
  // merge the winner greedily left-to-right) over a (word -> freq) map —
  // shared by the t24 golden test and the rounds-seam test
  private def refBpe(words: Map[String, Long], rounds: Int)
      : Seq[(String, String, Long, Long)] = {
    var syms: Map[List[String], Long] =
      words.map { case (w, f) => (w.map(_.toString).toList, f) }
    (1 to rounds).map { _ =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      syms.foreach { case (s, f) =>
        s.zip(s.drop(1)).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val ((l, r), c) = counts.toSeq
        .minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
      def merge(s: List[String]): List[String] = s match {
        case a :: b :: rest if a == l && b == r => (a + b) :: merge(rest)
        case a :: rest                          => a :: merge(rest)
        case Nil                                => Nil
      }
      syms = syms.map { case (s, f) => (merge(s), f) }
      (l, r, c, syms.keysIterator.flatten.toSet.size.toLong)
    }
  }

  test("t24 BPE merges: every round matches an independent greedy-BPE " +
       "reference on the harness corpus, and the fold handles overlapping " +
       "runs + multi-char remerges on a planted corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def engineRows(dir: String) =
      TextAnalysis.t24BpeMerges(spark, dir).collect().toSeq
        .map(r => (r.getAs[String]("lsym"), r.getAs[String]("rsym"),
          r.getAs[Long]("pair_count"), r.getAs[Long]("vocab_size")))
    // 1. harness corpus
    val words = graft.sources.Tables.documents(spark, sfDir)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
    assert(engineRows(sfDir) == refBpe(words, TextAnalysis.T24Rounds),
      "harness merge table diverged from the canonical reference")
    // the identity the engine relies on: batched BPE at pool 1, width 1
    // is single-merge BPE under either selection rule
    def batchedAtWidth1(ws: Map[String, Long], g: Boolean) =
      refBatchBpe(ws, TextAnalysis.T24Rounds, 1, 1, greedy = g)
        .map { case (_, _, l, r, c, v) => (l, r, c, v) }
    for (g <- Seq(false, true))
      assert(batchedAtWidth1(words, g) == refBpe(words, TextAnalysis.T24Rounds),
        s"harness: width-1 batched reference (greedy=$g) != refBpe")
    // 2. planted corpus: 'aaaa' exercises run alternation (aaaa -> [aa,
    // aa], not [aa, a, a]); round 2+ merges tokens round 1 PRODUCED
    // (aa+aa), which the harness vocabulary never triggers
    val planted = Seq(
      (0L, "aaaa aaaa aaaa baca", "en", "s0", 19L),
      (1L, "aaaa aaa baca baca", "en", "s0", 18L))
    val dir = java.nio.file.Files.createTempDirectory("graft-t24").toString
    planted.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val plantedWords = planted.flatMap(_._2.split(" "))
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
    val exp = refBpe(plantedWords, TextAnalysis.T24Rounds)
    assert(engineRows(dir) == exp,
      s"planted merge table diverged: expected $exp")
    for (g <- Seq(false, true))
      assert(batchedAtWidth1(plantedWords, g) == exp,
        s"planted: width-1 batched reference (greedy=$g) != refBpe")
    // the planted corpus must actually exercise a multi-char remerge
    assert(exp.exists { case (l, r, _, _) => l.length > 1 || r.length > 1 },
      "planted corpus failed to trigger a multi-char merge")
    // t25: encoding under the learned merges — replay the reference
    // merges per word and compare per-doc token counts exactly
    var refSyms: Map[String, List[String]] =
      plantedWords.keys.map(w => (w, w.map(_.toString).toList)).toMap
    exp.foreach { case (l, r, _, _) =>
      def merge(s: List[String]): List[String] = s match {
        case a :: b :: rest if a == l && b == r => (a + b) :: merge(rest)
        case a :: rest                          => a :: merge(rest)
        case Nil                                => Nil
      }
      refSyms = refSyms.map { case (w, s) => (w, merge(s)) }
    }
    val expDocs = planted.map { case (id, text, _, _, _) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      (id, ws.length.toLong, ws.map(_.length.toLong).sum,
        ws.map(w => refSyms(w).length.toLong).sum)
    }
    val gotDocs = TextAnalysis.t25BpeEncode(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_chars_alpha"), r.getAs[Long]("n_tokens_bpe")))
    assert(gotDocs.toSeq == expDocs,
      s"planted encoding diverged: expected $expDocs got ${gotDocs.toSeq}")
    // harness invariants: every doc encoded, tokens never exceed chars
    // (merges only shrink), compression ratio >= 1 whenever merges bind
    val harness = TextAnalysis.t25BpeEncode(spark, sfDir).collect()
    assert(harness.forall(r =>
      r.getAs[Long]("n_tokens_bpe") <= r.getAs[Long]("n_chars_alpha")))
    assert(harness.forall(r => r.getAs[Double]("chars_per_token") >= 1.0))
  }

  test("t24 rounds seam: graft.t24.rounds=6 matches the 6-round reference " +
       "on the planted corpus, and a corpus that runs out of pairs fails " +
       "LOUDLY instead of silently emptying the word table") {
    import spark.implicits._
    val planted = Seq(
      (0L, "aaaa aaaa aaaa baca", "en", "s0", 19L),
      (1L, "aaaa aaa baca baca", "en", "s0", 18L))
    val dir = java.nio.file.Files.createTempDirectory("graft-t24r").toString
    planted.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val plantedWords = planted.flatMap(_._2.split(" "))
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
    val got = TextAnalysis.t24BpeMerges(spark, dir, 6).collect().toSeq
      .map(r => (r.getAs[String]("lsym"), r.getAs[String]("rsym"),
        r.getAs[Long]("pair_count"), r.getAs[Long]("vocab_size")))
    assert(got == refBpe(plantedWords, 6),
      "6-round merge table diverged from the reference")
    // round 7 on this corpus has exactly one degenerate state left
    // after round 6 consumed the last pair family — requesting more
    // rounds than the corpus can supply must raise, not drop rows
    // (ADVICE r18: an empty winner must never empty the word table)
    val ex = intercept[Exception] {
      TextAnalysis.t24BpeMerges(spark, dir, 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("no adjacent pairs")),
      s"expected the loud no-pairs error, got: $ex")
  }

  // independent reference for the BATCHED variant: rank pairs, keep the
  // top pool, select up to `batch` that conflict with no higher-ranked
  // CANDIDATE (the engine's one-pass anti-join rule), apply the batch
  // sequentially in rank order (the oracle's sub-step semantics — equal
  // to the engine's single scan by the non-conflict invariant)
  private def refBatchBpe(words: Map[String, Long], rounds: Int,
      pool: Int, batch: Int,
      greedy: Boolean = false): Seq[(Int, Long, String, String, Long, Long)] = {
    var syms: Map[String, (List[String], Long)] =
      words.map { case (w, f) => (w, (w.map(_.toString).toList, f)) }
    (1 to rounds).flatMap { r =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      syms.values.foreach { case (s, f) =>
        s.zip(s.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val cand = counts.toSeq
        .sortBy { case ((l, rr), c) => (-c, l, rr) }.take(pool)
      def confl(a: (String, String), b: (String, String)): Boolean = {
        val (al, ar) = a; val (bl, br) = b
        Set(al, ar).intersect(Set(bl, br)).nonEmpty ||
          al + ar == bl || al + ar == br || bl + br == al || bl + br == ar
      }
      // greedy: no conflict with any already-SELECTED pair (maximal
      // independent set in rank order); antijoin: no conflict with any
      // higher-ranked CANDIDATE (the r19 rule)
      val sel =
        if (greedy)
          cand.foldLeft(Seq.empty[((String, String), Long)]) {
            case (acc, (p, c)) =>
              if (acc.size < batch &&
                  !acc.exists { case (sp, _) => confl(sp, p) }) acc :+ (p, c)
              else acc
          }
        else cand.zipWithIndex.filter { case ((p, _), idx) =>
          !cand.take(idx).exists { case (hp, _) => confl(hp, p) }
        }.take(batch).map(_._1)
      sel.foreach { case ((l, rr), _) =>
        def merge(s: List[String]): List[String] = s match {
          case a :: b :: rest if a == l && b == rr => (a + b) :: merge(rest)
          case a :: rest                           => a :: merge(rest)
          case Nil                                 => Nil
        }
        syms = syms.map { case (w, (s, f)) => (w, (merge(s), f)) }
      }
      val vocab = syms.values.flatMap(_._1).toSet.size.toLong
      sel.zipWithIndex.map { case (((l, rr), c), k) =>
        (r, (k + 1).toLong, l, rr, c, vocab)
      }
    }
  }

  test("t26 batched BPE merges: rounds match the independent batched " +
       "reference on the harness corpus AND a planted conflict corpus; " +
       "batching actually selects multiple pairs per round") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def engineRows(dir: String) =
      TextAnalysis.t26BpeBatchMerges(spark, dir).collect().toSeq
        .map(r => (r.getAs[Int]("round"), r.getAs[Long]("batch_rank"),
          r.getAs[String]("lsym"), r.getAs[String]("rsym"),
          r.getAs[Long]("pair_count"), r.getAs[Long]("vocab_size")))
    // 1. harness corpus vs reference
    val words = graft.sources.Tables.documents(spark, sfDir)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
    val harness = engineRows(sfDir)
    assert(harness == refBatchBpe(words, TextAnalysis.T26Rounds,
      TextAnalysis.T26Pool, TextAnalysis.T26Batch),
      "harness batched merge table diverged from the reference")
    // the batch must actually bind: >1 pair in some round, else the
    // entry only re-tests t24
    assert(harness.groupBy(_._1).values.exists(_.size > 1),
      "no round selected more than one pair — batching never exercised")
    // 2. planted conflict corpus: 'ab' dominates; (a,b) excludes (b,c)
    //    (shares b) and (c,ab)-style created-symbol conflicts; 'xy'
    //    pairs are disjoint and co-select
    val planted = Seq(
      (0L, "abc abc abc xy xy", "en", "s0", 17L),
      (1L, "abab xyxy cab", "en", "s0", 13L))
    val dir = java.nio.file.Files.createTempDirectory("graft-t26").toString
    planted.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val plantedWords = planted.flatMap(_._2.split(" "))
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
    val exp = refBatchBpe(plantedWords, TextAnalysis.T26Rounds,
      TextAnalysis.T26Pool, TextAnalysis.T26Batch)
    val got = engineRows(dir)
    assert(got == exp, s"planted batched table diverged:\n exp $exp\n got $got")
    // the planted corpus must exercise the conflict exclusion: some
    // candidate pair shares a symbol with a selected one — verified by
    // the reference itself selecting fewer pairs than the pool offers
    // in round 1 while >1 pair IS selected
    val r1 = exp.filter(_._1 == 1)
    assert(r1.size > 1, "planted corpus selected only one pair")
  }

  test("t26 greedy selection seam: matches the independent greedy " +
       "reference, strictly widens the anti-join selection on a chain " +
       "corpus, and the anti-join set is always a subset") {
    import spark.implicits._
    // chain corpus: (a,b),(b,c),(c,d),(d,e) all tie at count 3 — the
    // anti-join excludes (c,d) because it conflicts with the EXCLUDED
    // candidate (b,c); greedy keeps it (no conflict with selected
    // (a,b)). (x,y) is disjoint and co-selects under both rules.
    val planted = Seq(
      (0L, "abcde abcde abcde", "en", "s0", 17L),
      (1L, "xy xy xy", "en", "s0", 8L))
    val dir = java.nio.file.Files.createTempDirectory("graft-t26g").toString
    planted.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val plantedWords = planted.flatMap(_._2.split(" "))
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
    // t26 runs the anti-join rule, t26b the greedy one
    def engineRows(d: String, greedy: Boolean = false) =
      (if (greedy) TextAnalysis.t26bBpeGreedyMerges(spark, d)
       else TextAnalysis.t26BpeBatchMerges(spark, d)).collect().toSeq
        .map(r => (r.getAs[Int]("round"), r.getAs[Long]("batch_rank"),
          r.getAs[String]("lsym"), r.getAs[String]("rsym"),
          r.getAs[Long]("pair_count"), r.getAs[Long]("vocab_size")))
    val anti = engineRows(dir)
    val greedy = engineRows(dir, greedy = true)
    assert(greedy == refBatchBpe(plantedWords, TextAnalysis.T26Rounds,
      TextAnalysis.T26Pool, TextAnalysis.T26Batch, greedy = true),
      "greedy merge table diverged from the independent reference")
    def pairsOf(rows: Seq[(Int, Long, String, String, Long, Long)],
        round: Int) =
      rows.filter(_._1 == round).map(t => (t._3, t._4)).toSet
    // the planted chain: greedy round 1 must pick (c,d) on top of the
    // anti-join's picks
    assert(pairsOf(anti, 1).subsetOf(pairsOf(greedy, 1)),
      s"anti-join round-1 picks not a subset: ${pairsOf(anti, 1)} vs " +
        s"${pairsOf(greedy, 1)}")
    assert(pairsOf(greedy, 1).size > pairsOf(anti, 1).size,
      "greedy did not widen the chain-corpus selection")
    assert(pairsOf(greedy, 1).contains(("c", "d")),
      s"greedy round 1 missing the chain pick: ${pairsOf(greedy, 1)}")
    // harness corpus: subset invariant holds below the batch cap
    val antiH = engineRows(sfDir)
    val greedyH = engineRows(sfDir, greedy = true)
    val r1a = pairsOf(antiH, 1); val r1g = pairsOf(greedyH, 1)
    assert(r1a.size < TextAnalysis.T26Batch || r1g.size == r1a.size,
      "cap semantics changed")
    if (r1a.size < TextAnalysis.T26Batch)
      assert(r1a.subsetOf(r1g),
        s"harness round-1 subset violated: $r1a vs $r1g")
  }

  test("t26 loud empty round: a corpus of single-symbol words raises " +
       "instead of silently emptying the table (the t24 convention)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-t26e").toString
    Seq((0L, "a b a b c", "en", "s0", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val ex = intercept[Exception] {
      TextAnalysis.t26BpeBatchMerges(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("no adjacent pairs")),
      s"expected the loud no-pairs error, got: $ex")
  }

  test("t25 dict-join seam: the shuffle path returns rows identical to " +
       "the broadcast path, and auto resolves to shuffle when the " +
       "dictionary exceeds the broadcast cap") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val base = rows(TextAnalysis.t25BpeEncode(spark, sfDir))
    assert(base.nonEmpty)
    // a 0-row cap: the count-gated decision must take the shuffle
    // branch, with the same rows as the broadcast default
    assert(rows(TextAnalysis.t25BpeEncode(spark, sfDir, 0L)) == base,
      "shuffle-join path diverged from the broadcast path")
  }

  test("bigram_poly_buckets == the transform+aggregate built-in fold, " +
       "element for element (edge cases + real harness docs)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextHashFunctions.bigram_poly_buckets
    val edge = Seq(
      "a b c d e",  // plain: 4 bigrams
      "a  b c",     // consecutive spaces → empty word in the pair
      " a b c ",    // leading/trailing spaces
      "a",          // too short → empty
      "",           // empty string → single empty word → empty
      "x y x y",    // repeats keep EVERY occurrence (no dedup)
      // non-ASCII routes to the code-point fallback (ADVICE r14): the
      // built-in composition is per-character, so these rows prove the
      // kernel agrees beyond the ASCII fast path — 2-byte (é/ö), 3-byte
      // (CJK) and 4-byte (supplementary 🎉) encodings, plus mixed words
      "héllo wörld naïve",
      "日本 語 テスト",
      "a é 🎉 b",
      "ascii mixé ascii"
    ).toDF("text")
    val harness = graft.sources.Tables.documents(spark, sfDir).select("text")
    val ref = expr(
      "transform(transform(sequence(0, size(split(text, ' ')) - 2)," +
        "           i -> split(text, ' ')[i] || ' ' || split(text, ' ')[i+1])," +
        " b -> CAST(aggregate(sequence(1, length(b)), CAST(0 AS BIGINT)," +
        "        (acc, i) -> (acc * 131 + ascii(substring(b, i, 1))) % 1000003)" +
        "      % 512 AS INT))")
    for (df <- Seq(edge, harness)) {
      val mismatches = df.select(
          bigram_poly_buckets(col("text"), 1000003L, 512).as("fast"),
          when(size(split(col("text"), " ")) >= 2, ref)
            .otherwise(array().cast("array<int>")).as("ref"))
        .filter(not(col("fast") === col("ref")))
        .count()
      assert(mismatches == 0)
    }
  }
}
