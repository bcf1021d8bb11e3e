package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.VectorFunctions.cosine_sim
import graft.queries.Multimodal.StubDecoder
import graft.testing.Comparator

class FunctionsSpec extends SparkSpec {

  private def check(prop: Prop, minTests: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }

  test("sign_buckets kernel == the when-chain of per-plane dot_products, " +
       "at the oracle's 5 bits and the adaptive tier's 8 — same seeded " +
       "planes, bitwise-equal bucket ids per vector") {
    import graft.functions.VectorFunctions.{dot_product, sign_buckets}
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding"))
    for (bits <- Seq(5, 8)) {
      val rnd = new scala.util.Random(7) // the Similarity plane seed
      val planes = Array.fill(6 * bits)(
        Array.fill(64)(if (rnd.nextBoolean()) 1f else -1f))
      val chain = array((0 until 6).map { t =>
        (0 until bits).map { b =>
          when(dot_product(col("embedding"), typedlit(planes(t * bits + b))) > 0,
            lit(1 << b)).otherwise(lit(0))
        }.reduce(_ + _) + lit(t * (1 << bits))
      }: _*)
      val rows = e.select(col("vec_id"),
          sign_buckets(col("embedding"), planes.flatten, 6, bits).as("k"),
          chain.as("c")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[Int](1).toList == r.getSeq[Int](2).toList,
          s"kernel/chain divergence at bits=$bits vec_id=${r.get(0)}")
      }
    }
  }

  test("cosine_sim registered as a SQL function via GraftExtensions") {
    GraftExtensions.register(spark)
    graft.sources.Tables.embeddings(spark, sfDir)
      .createOrReplaceTempView("emb_v")
    val viaSql = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS c
        |FROM emb_v a JOIN emb_v b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id < 20 ORDER BY a.vec_id""".stripMargin)
      .collect().map(_.getDouble(1))
    val viaColumn = {
      val e = graft.sources.Tables.embeddings(spark, sfDir)
      val a = e.select(col("vec_id"), col("embedding").as("ea"))
      val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("eb"))
      a.join(b, "vec_id").filter(col("vec_id") < 20)
        .orderBy(col("vec_id"))
        .select(cosine_sim(col("ea"), col("eb"))).collect().map(_.getDouble(0))
    }
    assert(viaSql.length == 20)
    assert(viaSql.toSeq == viaColumn.toSeq) // identical expression → identical bits
  }

  test("rolling_hash registered as a SQL function (literal window arg)") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT rolling_hash('ab', 2) AS h, rolling_hash('x', 2) AS e")
      .collect().head
    assert(r.getSeq[Long](0) == Seq(12805L)) // (97*131 + 98) mod (2^31-1)
    assert(r.getSeq[Long](1) == Seq.empty)
    // a non-foldable window is rejected at analysis (foldable expressions
    // like length('xy') are fine — they evaluate at plan time)
    intercept[Exception] {
      spark.sql("SELECT rolling_hash('ab', cast(rand() * 2 AS int))").collect()
    }
  }

  test("ahash_chunks + thumb_hex registered as SQL functions; SQL result " +
       "== Column-API result") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT ahash_chunks('hello world') AS ch, thumb_hex('hello world') AS th")
      .collect().head
    val viaCol = spark.range(1).select(
      graft.functions.SketchFunctions.ahash_chunks(lit("hello world")).as("ch"),
      graft.functions.SketchFunctions.thumb_hex(lit("hello world")).as("th"))
      .collect().head
    assert(r.getSeq[Int](0) == viaCol.getSeq[Int](0))
    assert(r.getString(1) == viaCol.getString(1))
    assert(r.getSeq[Int](0).length == 4)
    assert(r.getString(1).matches("[0-9a-f]{128}"))
    // empty input contract: empty array / empty string
    val e = spark.sql("SELECT ahash_chunks('') AS ch, thumb_hex('') AS th")
      .collect().head
    assert(e.getSeq[Int](0).isEmpty && e.getString(1).isEmpty)
  }

  test("bigram_poly_buckets registered as a SQL function (literal mod/" +
       "bucket args); SQL result == Column-API result") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT bigram_poly_buckets('x x y', 1000003, 512) AS b," +
        " bigram_poly_buckets('solo', 1000003, 512) AS e")
      .collect().head
    val viaCol = spark.range(1).select(
      graft.functions.TextHashFunctions
        .bigram_poly_buckets(lit("x x y"), 1000003L, 512).as("b"))
      .collect().head
    assert(r.getSeq[Int](0) == viaCol.getSeq[Int](0))
    assert(r.getSeq[Int](0).length == 2) // 3 words -> 2 bigram buckets
    assert(r.getSeq[Int](1).isEmpty)     // 1 word -> no bigram
    // "x x" under acc*131+code mod 1000003 mod 512 = 138 (the
    // TextAnalysisSpec fixture's hand-derived bucket)
    assert(r.getSeq[Int](0).head == 138)
  }

  test("property: ahash_chunks + thumb_hex match an independent pure-Scala " +
       "reference on random ASCII payloads") {
    import org.apache.spark.unsafe.types.UTF8String
    // independent reference: same spec, written against plain
    // Array[Byte] — no UTF8String offsets, no shared helpers
    def refPixels(bytes: Array[Byte]): Array[Int] = {
      val len = bytes.length
      val w = 64 + len % 64
      val h = 64 + (len / 64) % 64
      (0 until 64).toArray.map { t =>
        val idx = ((t / 8) * h / 8) * w + ((t % 8) * w / 8)
        bytes(idx % len) & 0xFF
      }
    }
    val asciiText = Gen.chooseNum(1, 300).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))).map(_.mkString))
    check(Prop.forAll(asciiText) { s =>
      val bytes = s.getBytes("UTF-8")
      val px = refPixels(bytes)
      val sum = px.map(_.toLong).sum
      val expChunks = (0 until 4).map { c =>
        (0 until 16).map(j => if (px(16 * c + j) * 64L > sum) 1 << j else 0).sum
      }
      val expHex = px.map("%02x".format(_)).mkString
      val u = UTF8String.fromString(s)
      graft.functions.AHashChunks.chunks(u).toSeq == expChunks &&
        graft.functions.ThumbHex.thumb(u).toString == expHex
    })
  }

  test("property: t12's integer bits formula == floor(log2(total/freq)) " +
       "for random positive (freq <= total) pairs") {
    val gen = for {
      total <- Gen.chooseNum(1L, Long.MaxValue / 2)
      freq <- Gen.chooseNum(1L, total)
    } yield (total, freq)
    check(Prop.forAll(gen) { case (total, freq) =>
      val viaBin = java.lang.Long.toBinaryString(total / freq).length - 1
      val viaLog = (63 - java.lang.Long.numberOfLeadingZeros(total / freq))
      viaBin == viaLog
    })
  }

  test("property: cosine_sim(v, v) == 1 and symmetry, vs scala reference") {
    import spark.implicits._
    val gen = Gen.listOfN(16, Gen.chooseNum(-10f, 10f))
      .suchThat(_.exists(x => math.abs(x) > 1e-3))
    val vecs = (1 to 200).flatMap(_ => gen.sample).map(_.toArray)
    val pairs = vecs.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val rows = pairs.toDF("a", "b")
      .select(cosine_sim(col("a"), col("b")).as("ab"),
        cosine_sim(col("b"), col("a")).as("ba"),
        cosine_sim(col("a"), col("a")).as("aa"))
      .collect()
    def ref(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      val n = math.sqrt(na) * math.sqrt(nb); if (n == 0) 0.0 else d / n
    }
    rows.zip(pairs).foreach { case (r, (a, b)) =>
      assert(r.getDouble(0) == ref(a, b))          // bit-exact vs reference loop
      assert(r.getDouble(0) == r.getDouble(1))     // symmetric
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9) // self-similarity
    }
  }

  test("CosineSim.round4(CosineSim.cosine(a, b)) is bit-identical to " +
       "round(cosine_sim(a, b), 4), on random vectors and across the " +
       "0.35 rounding band") {
    import spark.implicits._
    import graft.functions.CosineSim
    val gen = Gen.listOfN(64, Gen.chooseNum(-1f, 1f))
    val random = (1 to 400).flatMap(_ => gen.sample).map(_.toArray)
      .grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    // (x, 1) against (1, 0): cosine x/sqrt(x²+1), stepped through
    // [0.3498, 0.3501] so raw values land on both sides of each HALF_UP
    // edge (0.34985, 0.34995, 0.35005)
    val band = (0 to 300).map { k =>
      val c = 0.3498 + k * 1e-6
      (Array((c / math.sqrt(1 - c * c)).toFloat, 1f), Array(1f, 0f))
    }
    val pairs = random ++ band
    val rows = pairs.toDF("a", "b")
      .select(round(cosine_sim(col("a"), col("b")), 4)).collect()
    rows.zip(pairs).foreach { case (r, (a, b)) =>
      val got = CosineSim.round4(CosineSim.cosine(a, b))
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(0)),
        s"$got != ${r.getDouble(0)} for ${a.toSeq} / ${b.toSeq}")
    }
    assert(band.map { case (a, b) => CosineSim.round4(CosineSim.cosine(a, b)) }
      .toSet == Set(0.3498, 0.3499, 0.35, 0.3501),
      "fixture: the band no longer straddles the 0.35 edges")
  }

  test("property: dot_product bit-exact vs the aggregate(zip_with) " +
       "composition it fuses; nulls and length mismatch poison to NULL") {
    import spark.implicits._
    import graft.functions.VectorFunctions.dot_product
    val gen = Gen.listOfN(16, Gen.chooseNum(-10f, 10f))
    val vecs = (1 to 200).flatMap(_ => gen.sample).map(_.toArray)
    val pairs = vecs.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val rows = pairs.toDF("a", "b")
      .select(
        dot_product(col("a"), col("b")).as("dp"),
        aggregate(zip_with(col("a"), col("b"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // bit-exact
    val bad = Seq(
      (Array(1f, 2f), Array(1f)),          // length mismatch
      (Array(1f, 2f), null)                // null input
    ).toDF("a", "b")
    assert(bad.select(dot_product(col("a"), col("b"))).collect()
      .forall(_.isNullAt(0)))
  }

  test("cosine_sim: length mismatch poisons to NULL (truncated embedding " +
       "must not yield a plausible similarity)") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),  // equal length
      (Array(1f, 2f, 3f), Array(1f, 2f))       // truncated
    ).toDF("a", "b")
    val out = df.select(cosine_sim(col("a"), col("b")).as("c")).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(out(1).isNullAt(0), s"mismatched lengths must be NULL, got ${out(1)}")
    // same through the interpreted path (eval on a literal-free plan edge)
    val sqlOut = spark.sql(
      "SELECT cosine_sim(array(cast(1 as float)), array(cast(1 as float), cast(2 as float)))")
      .collect().head
    assert(sqlOut.isNullAt(0))
  }

  test("two cosine_sim calls in one projection compile in one codegen scope") {
    import spark.implicits._
    val df = Seq((Array(1f, 0f), Array(0f, 1f), Array(3f, 4f))).toDF("a", "b", "c")
    // both kernels' loop locals land in the same generated method — any
    // bare (non-freshName'd) local would collide and kick the whole stage
    // back to interpreted execution
    val r = df.select(
      cosine_sim(col("a"), col("b")).as("ab"),
      cosine_sim(col("a"), col("c")).as("ac"),
      cosine_sim(col("c"), col("c")).as("cc")).collect().head
    assert(r.getDouble(0) == 0.0)
    assert(math.abs(r.getDouble(1) - 0.6) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("bloom_hit_count: equals a driver-side mightContainLong loop, " +
       "empty array counts 0, and matches across partitions") {
    import spark.implicits._
    import graft.functions.BloomFunctions.bloom_hit_count
    val member = (1L to 500L).map(_ * 37L)
    val bloom = member.toDF("v").stat.bloomFilter("v", 1000L, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos); bos.toByteArray
    }
    // arrays mixing members, non-members, and one empty array
    val rows: Seq[(Long, Seq[Long])] = Seq(
      (1L, member.take(10)),                         // all hits
      (2L, Seq(-1L, -2L, -3L)),                      // hits only via FPs
      (3L, member.take(5) ++ Seq(999999999L, -7L)),  // mixed
      (4L, Seq.empty[Long]))                         // empty -> 0
    val got = rows.toDF("id", "arr").repartition(3)
      .select(col("id"), bloom_hit_count(bytes, col("arr")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = rows.map { case (id, arr) =>
      id -> arr.count(bloom.mightContainLong).toLong
    }.toMap
    assert(got == expect)
    assert(got(1L) == 10L, "members must always hit (no false negatives)")
    assert(got(4L) == 0L)
  }

  test("property: stub decoder intensity bounded, dims in range (pure)") {
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) { bs =>
      val f = StubDecoder.decode(bs.toArray, new Array[Long](16))
      f.intensity >= 0.0 && f.intensity <= 1.0 &&
        f.width >= 64 && f.width < 128 && f.height >= 64 && f.height < 128 &&
        f.sampled_frames == (f.n_frames + 9) / 10 &&
        f.top_bin >= 0 && f.top_bin < 16
    })
  }

  test("property: comparator invariant under row permutation, " +
       "sensitive to any single-cell change (sampled)") {
    import spark.implicits._
    val base = Seq((1, "a"), (2, "b"), (3, "b"), (3, "b"), (4, null))
    val df = base.toDF("k", "v")
    // permutation invariance
    assert(Comparator.equalUnordered(df, base.reverse.toDF("k", "v")))
    // single-cell perturbations all detected
    for (i <- base.indices) {
      val mutated = base.updated(i, (base(i)._1 + 100, base(i)._2))
      assert(!Comparator.equalUnordered(df, mutated.toDF("k", "v")), s"row $i")
    }
    // multiplicity change detected even when distinct sets match
    assert(!Comparator.equalUnordered(df, (base :+ base.head).toDF("k", "v")))
  }
}
