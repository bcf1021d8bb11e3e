package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Ev

class StreamingSpec extends SparkSpec {

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("ts_us", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Write the sf0.001 events (micros-projected) as the streaming input. */
  lazy val streamInputDir: String = {
    val dir = Files.createTempDirectory("graft-stream-in").toString
    val raw = graft.sources.Tables.events(spark, sfDir)
    raw
      .select(col("event_id"), col("user_id"),
        graft.sources.Tables.eventsTsUs(raw).as("ts_us"),
        col("event_type"), col("value"))
      .coalesce(2).write.mode("overwrite").parquet(dir)
    dir
  }

  private def streamInput = spark.readStream
    .schema(eventSchema).parquet(streamInputDir)

  test("tumbling window counts: streaming result equals batch result") {
    val q = StreamingOps.tumblingCounts(streamInput)
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("win_start").getTime,
        r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Double]("value_sum"))).toSet

    val batch = StreamingOps.tumblingCounts(
      spark.read.schema(eventSchema).parquet(streamInputDir)).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("win_start").getTime,
        r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Double]("value_sum"))).toSet

    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stateful sessionizer closes gap-separated sessions, holds the tail") {
    import spark.implicits._
    // user 1: two sessions split by a 31-min gap; the second stays open
    val evs = Seq(
      Ev(0L, 1L, 0L, "view", 1.0),
      Ev(1L, 1L, 10L * 1000000, "click", 1.0),
      Ev(2L, 1L, (10 + 31 * 60) * 1000000L, "view", 1.0),
      Ev(3L, 2L, 5L * 1000000, "signup", 1.0)
    ).toDS()
    val out = StreamingOps.sessionize(evs, gapUs = 30L * 60 * 1000000)
      .collect().map(s => (s.user_id, s.start_us, s.end_us, s.n_events))
    // only user 1's FIRST session is closed; open tails are held in state
    assert(out.toSeq == Seq((1L, 0L, 10L * 1000000, 2)))
  }

  test("late event in a second micro-batch merges without corrupting bounds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-late").toString
    def writeBatch(evs: Seq[Ev], name: String): Unit =
      evs.toDS().coalesce(1).write.parquet(s"$dir/$name")
    def us(sec: Long) = sec * 1000000L
    // batch 1: open session {1000s..2000s, n=2}
    writeBatch(Seq(
      Ev(0L, 1L, us(1000), "view", 1.0),
      Ev(1L, 1L, us(2000), "view", 1.0)), "b1")
    val in = spark.readStream.schema(eventSchema).parquet(s"$dir/b*")
    val q = StreamingOps.sessionize(in.as[Ev], gapUs = 30L * 60 * 1000000)
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE event at 500s (merges; must extend start, not
      // drag end backward) then a far-future event that closes the session
      writeBatch(Seq(
        Ev(2L, 1L, us(500), "click", 1.0),
        Ev(3L, 1L, us(2000 + 40 * 60), "view", 1.0)), "b2")
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("late_sessions").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Int]("n_events")))
    assert(closed.toSeq == Seq((1L, us(500), us(2000), 3)))
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("ts", TimestampType)))

  test("streaming exact dedup: first-seen wins across micro-batches; " +
       "state is bounded by the watermark horizon") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-dedup").toString
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:${min}%02d:00")
    def writeBatch(rows: Seq[(Long, String, java.sql.Timestamp)], name: String): Unit =
      rows.toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/$name")
    writeBatch(Seq(
      (1L, "aaa", ts(0)),
      (2L, "aaa", ts(5)),   // in-batch duplicate: dropped
      (3L, "bbb", ts(10))), "b1")
    val in = spark.readStream.schema(docSchema).parquet(s"$dir/b*")
    val q = StreamingOps.dedupExact(in, "ts", "20 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    def ids(): Set[Long] =
      spark.table("dedup_stream").collect().map(_.getAs[Long]("doc_id")).toSet
    try {
      q.processAllAvailable()
      assert(ids() == Set(1L, 3L), "in-batch duplicate must be dropped")
      // next micro-batch: "aaa" again, within the horizon of first-seen
      // (watermark after b1 = 10:10 - 20min = 09:50 < expiry 10:20) —
      // dropped; a fresh text passes
      writeBatch(Seq(
        (4L, "aaa", ts(15)),
        (5L, "ccc", ts(18))), "b2")
      q.processAllAvailable()
      assert(ids() == Set(1L, 3L, 5L), "cross-batch duplicate must be dropped")
      // advance the watermark far past every fingerprint's expiry...
      writeBatch(Seq((6L, "ddd", ts(50))), "b3")
      q.processAllAvailable()
      // ...then a re-arrival of "aaa" AFTER eviction passes — the
      // documented horizon trade that keeps state bounded
      writeBatch(Seq((7L, "aaa", ts(55))), "b4")
      q.processAllAvailable()
      assert(ids() == Set(1L, 3L, 5L, 6L, 7L),
        "evicted fingerprint must pass (bounded state, not corpus state)")
    } finally q.stop()
  }

  test("streaming minhash near-dup: candidates equal the batch banding " +
       "on the same corpus; horizon evicts idle buckets") {
    import spark.implicits._
    val tA = "the quick brown fox jumps over the lazy dog again and again today"
    val tB = "the quick brown fox jumps over the lazy cat again and again today"
    val tU = "completely different content about distributed query engines at scale"
    val tV = "yet another unrelated sentence mentioning parquet files and shuffles"
    def ts(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$min%02d:00")
    val dir = Files.createTempDirectory("graft-stream-neardup").toString
    def writeBatch(rows: Seq[(Long, String, java.sql.Timestamp)], name: String): Unit =
      rows.toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/$name")
    writeBatch(Seq((1L, tA, ts(10, 0)), (2L, tB, ts(10, 1))), "b1")
    writeBatch(Seq((3L, tA, ts(10, 2)), (4L, tU, ts(10, 3))), "b2")
    val horizonMs = 30L * 60 * 1000
    val in = spark.readStream.schema(docSchema).parquet(s"$dir/b*")
    val q = StreamingOps.nearDupCandidates(in, "ts", horizonMs)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    def cands(): Set[(Long, Long, Int)] =
      spark.table("neardup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    try {
      q.processAllAvailable()
      // batch-symmetry: the streamed candidate set equals the batch
      // banding over the same 4 documents (no eviction within horizon)
      val batchDocs = Seq((1L, tA, ts(10, 0)), (2L, tB, ts(10, 1)),
        (3L, tA, ts(10, 2)), (4L, tU, ts(10, 3))).toDF("doc_id", "text", "ts")
      val expected = StreamingOps.nearDupCandidates(batchDocs, "ts", horizonMs)
        .collect().map(c => (c.doc_a, c.doc_b, c.band)).toSet
      assert(cands() == expected)
      // identical texts share all 16 band buckets
      assert(cands().count { case (a, b, _) => a == 1L && b == 3L } == 16)
      val before = cands()
      // idle the tA/tB buckets past the horizon: watermark passes their
      // expiry during b3 (no data for them), so b3's timeout pass evicts
      // them; the tA re-arrival in b4 then finds empty buckets
      writeBatch(Seq((5L,
        "fresh watermark advancing filler text with entirely new tokens here",
        ts(12, 0))), "b3")
      q.processAllAvailable()
      writeBatch(Seq((6L, tV, ts(12, 10))), "b4")
      q.processAllAvailable()
      writeBatch(Seq((7L, tA, ts(12, 15))), "b5")
      q.processAllAvailable()
      assert(cands() == before,
        "near-dup of an evicted document must pass unflagged (bounded state)")
    } finally q.stop()
  }

  test("streaming minhash near-dup: bucket cap bounds state and per-arrival " +
       "work (third identical doc emits nothing at cap 2)") {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, t, java.sql.Timestamp.valueOf("2026-01-01 10:00:00")),
      (2L, t, java.sql.Timestamp.valueOf("2026-01-01 10:01:00")),
      (3L, t, java.sql.Timestamp.valueOf("2026-01-01 10:02:00"))
    ).toDF("doc_id", "text", "ts")
    val out = StreamingOps.nearDupCandidates(docs, "ts", 1000L, maxBucket = 2)
      .collect()
    assert(out.length == 16) // one (1,2) pair per band; doc 3 capped out
    assert(out.forall(c => c.doc_a == 1L && c.doc_b == 2L))
  }

  test("streaming exact dedup: batch input degrades to plain first-wins " +
       "dedup (the module's batch-symmetry contract)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaa", java.sql.Timestamp.valueOf("2026-01-01 10:00:00")),
      (2L, "aaa", java.sql.Timestamp.valueOf("2026-01-01 10:05:00")),
      (3L, "bbb", java.sql.Timestamp.valueOf("2026-01-01 10:10:00"))
    ).toDF("doc_id", "text", "ts")
    val kept = StreamingOps.dedupExact(docs, "ts", "20 minutes")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept.contains(3L) && kept.size == 2 && (kept - 3L).subsetOf(Set(1L, 2L)))
  }

  test("stateful sessionizer across micro-batches via memory sink") {
    import spark.implicits._
    val sessions = StreamingOps.sessionize(
      streamInput.as[Ev], gapUs = 30L * 60 * 1000000)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sessions").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("end_us") >= r.getAs[Long]("start_us"))
      assert(r.getAs[Int]("n_events") >= 1)
    }
    // closed sessions must agree with the batch sessionizer's closed set
    // (batch e3 emits ALL sessions; streaming holds one open per user)
    val batchSessions = graft.queries.EventQueries.e3Sessionize(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
      .toSet
    val streamedSet = got.map(r => (r.getAs[Long]("user_id"),
      r.getAs[Long]("start_us"), r.getAs[Long]("end_us"),
      r.getAs[Int]("n_events").toLong)).toSet
    assert(streamedSet.subsetOf(batchSessions),
      "streaming closed sessions must be a subset of batch sessions")
  }

  test("contamination screen: streaming equals batch probe-for-probe; " +
       "a full cross-split dup flags 1.0 and a clean doc stays low") {
    import spark.implicits._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val trainText = (1 to 10).map(i => s"w$i").mkString(" ")
    val train = Seq((100L, trainText),
      (101L, (1 to 9).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val valDir = Files.createTempDirectory("graft-stream-contam").toString
    Seq((1L, trainText),                              // exact leak -> 1.0
        (2L, (1 to 10).map(i => s"z$i").mkString(" "))) // novel vocab
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(valDir)

    val streaming = StreamingOps.contaminationScreen(
      spark.readStream.schema(docSchema).parquet(valDir), train)
    val q = streaming.writeStream.format("memory").queryName("contam")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("contam").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)

    val leak = streamed.find(_._1 == 1L).get
    assert(leak == (1L, 6L, 6L, 1.0))
    val clean = streamed.find(_._1 == 2L).get
    assert(clean._4 < 0.5, s"clean doc over-flagged: $clean") // FP headroom

    // batch path over the identical input sees the identical Bloom bits
    // (filter construction is order-independent) -> equal rows
    val batch = StreamingOps.contaminationScreen(
      spark.read.schema(docSchema).parquet(valDir), train).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming quota admission: the counter persists across " +
       "micro-batches — a source full in batch 1 admits nothing later") {
    import spark.implicits._
    import graft.streaming.StreamingOps.DocArrival
    val dir = Files.createTempDirectory("graft-stream-quota").toString
    def writeBatch(ds: Seq[DocArrival], name: String): Unit =
      ds.toDS().coalesce(1).write.parquet(s"$dir/$name")
    val arrivalSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("ts_us", LongType)))
    // batch 1: s0 gets 2 arrivals (fills quota=2), s1 gets 1
    writeBatch(Seq(DocArrival(1L, "s0", 1L), DocArrival(2L, "s0", 2L),
      DocArrival(3L, "s1", 3L)), "b1")
    val in = spark.readStream.schema(arrivalSchema).parquet(s"$dir/b*")
    val q = graft.streaming.StreamingOps
      .sourceQuotaAdmit(in.as[DocArrival], quota = 2)
      .writeStream.format("memory").queryName("quota")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: s0 is full -> dropped; s1 takes one more then drops
      writeBatch(Seq(DocArrival(4L, "s0", 4L), DocArrival(5L, "s1", 5L),
        DocArrival(6L, "s1", 6L)), "b2")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("quota").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "s0", 1), (2L, "s0", 2), (3L, "s1", 1), (5L, "s1", 2)))
  }

  test("streaming token-budget admission: admit-then-add freezes the " +
       "counter at first crossing, across micro-batches") {
    import spark.implicits._
    import graft.streaming.StreamingOps.DocTokArrival
    val dir = Files.createTempDirectory("graft-stream-tokbudget").toString
    def writeBatch(ds: Seq[DocTokArrival], name: String): Unit =
      ds.toDS().coalesce(1).write.parquet(s"$dir/$name")
    val arrivalSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("tok", LongType),
      StructField("ts_us", LongType)))
    // batch 1: s0 admits 60 then 50 (overshoot to 110 >= 100 — admitted
    // because it ARRIVED under budget); s1 admits 90
    writeBatch(Seq(DocTokArrival(1L, "s0", 60L, 1L),
      DocTokArrival(2L, "s0", 50L, 2L),
      DocTokArrival(3L, "s1", 90L, 3L)), "b1")
    val in = spark.readStream.schema(arrivalSchema).parquet(s"$dir/b*")
    val q = graft.streaming.StreamingOps
      .tokenBudgetAdmit(in.as[DocTokArrival], budget = 100L)
      .writeStream.format("memory").queryName("tokbudget")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: s0 is frozen at 110 -> nothing, even a 1-token doc;
      // s1 (at 90) admits one more (crossing to 130), then freezes
      writeBatch(Seq(DocTokArrival(4L, "s0", 1L, 4L),
        DocTokArrival(5L, "s1", 40L, 5L),
        DocTokArrival(6L, "s1", 1L, 6L)), "b2")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("tokbudget").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "s0", 60L, 60L), (2L, "s0", 50L, 110L),
      (3L, "s1", 90L, 90L), (5L, "s1", 40L, 130L)))
  }

  test("streaming funnel: depth advances across micro-batches and the " +
       "final state equals the batch e8 result on the same events") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-funnel").toString
    def us(sec: Long) = sec * 1000000L
    def writeBatch(evs: Seq[Ev], name: String): Unit =
      evs.toDS().coalesce(1).write.parquet(s"$dir/$name")
    // batch 1: user 1 views (depth 1); user 2 clicks without a view (0)
    writeBatch(Seq(
      Ev(0L, 1L, us(10), "view", 0.0),
      Ev(1L, 2L, us(10), "click", 0.0)), "b1")
    val in = spark.readStream.schema(eventSchema).parquet(s"$dir/b*")
    val q = StreamingOps.funnelDepth(in.as[Ev])
      .writeStream.format("memory").queryName("funnel")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val after1 = spark.table("funnel").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(after1 == Map(1L -> 1, 2L -> 0))
      // batch 2: user 1 click+purchase completes (3); user 2's view
      // arrives but the earlier click cannot retro-convert (1)
      writeBatch(Seq(
        Ev(2L, 1L, us(20), "click", 0.0),
        Ev(3L, 1L, us(30), "purchase", 0.0),
        Ev(4L, 2L, us(20), "view", 0.0)), "b2")
      q.processAllAvailable()
    } finally q.stop()
    // state only advances: max update per user == final state
    val finalDepth = spark.table("funnel").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(finalDepth == Map(1L -> 3, 2L -> 1))
    // batch symmetry on the harness corpus: folding ALL events as one
    // batch equals e8 (same state machine, same (ts, id) order)
    val rawEv = graft.sources.Tables.events(spark, sfDir)
    val evs = rawEv
      .select(col("event_id"), col("user_id"),
        graft.sources.Tables.eventsTsUs(rawEv).as("ts_us"),
        col("event_type"), col("value")).as[Ev]
    val folded = StreamingOps.funnelDepth(evs).collect()
      .map(f => (f.user_id, f.reached)).toMap
    val e8 = graft.queries.EventQueries.e8Funnel(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(folded == e8)
  }

  test("st9 ingest pipeline: both admission caps freeze across " +
       "micro-batches and the composed stream equals the batch run") {
    import spark.implicits._
    import graft.streaming.StreamingOps.IngestArrival
    val train = Seq((100L, "t1 t2 t3 t4 t5 t6")).toDF("doc_id", "text")
    val b1 = Seq(
      IngestArrival(1L, "sA", "t1 t2 t3 t4 t5 x1", 10L, 1L), // leaked 5-gram
      IngestArrival(2L, "sA", "a b c d e f g", 10L, 2L),
      IngestArrival(3L, "sB", "h i j k l m n", 120L, 3L))    // crosses budget
    val b2 = Seq(
      IngestArrival(4L, "sA", "o p q r s t", 5L, 4L),  // sA count-capped out
      IngestArrival(5L, "sB", "u v w x y z", 1L, 5L))  // sB budget-frozen out
    val dir = Files.createTempDirectory("graft-st9").toString
    b1.toDS().coalesce(1).write.parquet(s"$dir/b0")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType), StructField("tok", LongType),
      StructField("ts_us", LongType)))
    val in = spark.readStream.schema(schema).parquet(s"$dir/b*")
      .as[IngestArrival]
    val q = StreamingOps.ingestPipeline(in, train, quota = 2, budget = 100L)
      .writeStream.format("memory").queryName("st9pipe")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      b2.toDS().coalesce(1).write.parquet(s"$dir/b1")
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("tok"), r.getAs[Int]("admit_idx"),
        r.getAs[Long]("budget_used"), r.getAs[Long]("n_sh"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("contam_frac")))
      .sortBy(_._1)
    val streamed = rows(spark.table("st9pipe"))
    // docs 4 and 5 must be gone: sA's count cap and sB's budget both
    // froze in batch 1; doc 1's leaked train 5-gram is flagged
    assert(streamed.toSeq == Seq(
      (1L, "sA", 10L, 1, 10L, 2L, 1L, 0.5),
      (2L, "sA", 10L, 2, 20L, 3L, 0L, 0.0),
      (3L, "sB", 120L, 1, 120L, 3L, 0L, 0.0)))
    val batch = rows(StreamingOps.ingestPipeline(
      (b1 ++ b2).toDS(), train, quota = 2, budget = 100L))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("ingestAdmit restarts from its checkpoint: stopped after batch 2 " +
       "and restarted on the same source, it admits what an " +
       "uninterrupted run does") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Encoder}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps.{Admitted, Cand, DocArrival,
      DocTokArrival, Ev, IngestArrival, SemDrop, SessionOut, TokAdmitted,
      VecArrival}
    // the query over `batches` run once straight through, then stopped
    // after batch 2 and restarted from its checkpoint on the same source
    def straightAndRestarted[A: Encoder, B: Encoder](batches: Seq[Seq[A]])(
        query: Dataset[A] => Dataset[B]): (Seq[B], Seq[B]) = {
      // each element of `lives` is one query lifetime over one checkpoint
      def run(lives: Seq[Seq[Seq[A]]]): Seq[B] = {
        val dir = Files.createTempDirectory("graft-st-restart").toString
        val in = MemoryStream[A](spark)
        val out = query(in.toDS())
        lives.foreach { life =>
          val q = out.writeStream.format("parquet")
            .option("checkpointLocation", s"$dir/ckpt").option("path", s"$dir/out")
            .outputMode("append").start()
          try life.foreach { b => in.addData(b); q.processAllAvailable() }
          finally q.stop()
        }
        spark.read.parquet(s"$dir/out").as[B].collect().toSeq
      }
      (run(Seq(batches)), run(Seq(batches.take(2), batches.drop(2))))
    }
    val (straight, restarted) = straightAndRestarted(Seq(
      Seq(IngestArrival(1L, "sA", "a", 10L, 1L), IngestArrival(2L, "sB", "b", 60L, 2L)),
      Seq(IngestArrival(3L, "sA", "c", 10L, 3L), IngestArrival(4L, "sB", "d", 50L, 4L)),
      Seq(IngestArrival(5L, "sA", "e", 10L, 5L), IngestArrival(6L, "sB", "f", 1L, 6L)),
      Seq(IngestArrival(7L, "sA", "g", 1L, 7L), IngestArrival(8L, "sB", "h", 1L, 8L)))
    )(StreamingOps.ingestAdmit(_, quota = 3, budget = 100L))
    // sA's count cap (3) closes on doc 5; sB's budget (100) on doc 4
    assert(straight.sortBy(_.doc_id).map(d => (d.doc_id, d.admit_idx, d.budget_used)) ==
      Seq((1L, 1, 10L), (2L, 1, 60L), (3L, 2, 20L), (4L, 2, 110L), (5L, 3, 30L)))
    assert(restarted.sortBy(_.doc_id) == straight.sortBy(_.doc_id))
    // the sessionizer's open sessions live in keyed state: user 1's
    // second session and user 2's first both span the restart
    def ev(id: Long, user: Long, ts: Long) = Ev(id, user, ts, "view", 0.0)
    val (sStraight, sRestarted) = straightAndRestarted(Seq(
      Seq(ev(1L, 1L, 0L), ev(2L, 1L, 5L), ev(3L, 2L, 0L)),
      Seq(ev(4L, 1L, 30L), ev(5L, 2L, 8L)),
      Seq(ev(6L, 1L, 35L), ev(7L, 2L, 50L)),
      Seq(ev(8L, 1L, 100L), ev(9L, 2L, 55L)))
    )(StreamingOps.sessionize(_, gapUs = 10L))
    val bySession = Ordering.by((o: SessionOut) => (o.user_id, o.start_us))
    assert(sStraight.sorted(bySession) == Seq(SessionOut(1L, 0L, 5L, 2),
      SessionOut(1L, 30L, 35L, 2), SessionOut(2L, 0L, 8L, 2)))
    assert(sRestarted.sorted(bySession) == sStraight.sorted(bySession))
    // the per-source admission counters: s0's third admission (doc 5)
    // and s1's first rejection (doc 7) come after the restart
    val (qStraight, qRestarted) = straightAndRestarted(Seq(
      Seq(DocArrival(1L, "s0", 1L), DocArrival(2L, "s1", 2L)),
      Seq(DocArrival(3L, "s0", 3L), DocArrival(4L, "s1", 4L)),
      Seq(DocArrival(5L, "s0", 5L), DocArrival(6L, "s1", 6L)),
      Seq(DocArrival(7L, "s1", 7L)))
    )(StreamingOps.sourceQuotaAdmit(_, quota = 3))
    assert(qStraight.sortBy(_.doc_id) == Seq(Admitted(1L, "s0", 1),
      Admitted(2L, "s1", 1), Admitted(3L, "s0", 2), Admitted(4L, "s1", 2),
      Admitted(5L, "s0", 3), Admitted(6L, "s1", 3)))
    assert(qRestarted.sortBy(_.doc_id) == qStraight.sortBy(_.doc_id))
    // s0 crosses its budget (100) on doc 4 and s1 on doc 5, both
    // against mass admitted before the restart
    val (bStraight, bRestarted) = straightAndRestarted(Seq(
      Seq(DocTokArrival(1L, "s0", 40L, 1L), DocTokArrival(2L, "s1", 90L, 2L)),
      Seq(DocTokArrival(3L, "s0", 40L, 3L)),
      Seq(DocTokArrival(4L, "s0", 40L, 4L), DocTokArrival(5L, "s1", 20L, 5L)),
      Seq(DocTokArrival(6L, "s0", 1L, 6L), DocTokArrival(7L, "s1", 1L, 7L)))
    )(StreamingOps.tokenBudgetAdmit(_, budget = 100L))
    assert(bStraight.sortBy(_.doc_id) == Seq(TokAdmitted(1L, "s0", 40L, 40L),
      TokAdmitted(2L, "s1", 90L, 90L), TokAdmitted(3L, "s0", 40L, 80L),
      TokAdmitted(4L, "s0", 40L, 120L), TokAdmitted(5L, "s1", 20L, 110L)))
    assert(bRestarted.sortBy(_.doc_id) == bStraight.sortBy(_.doc_id))
    // the stored cell prefixes: docs 4 and 6 duplicate vectors stored
    // before the restart (4) and after it (6)
    def axis(i: Int): Seq[Float] = { val a = Array.fill(8)(0f); a(i) = 1f; a.toSeq }
    def vec(id: Long, cell: Long, i: Int) =
      VecArrival(id, cell, axis(i), new java.sql.Timestamp(id * 1000L))
    val (vStraight, vRestarted) = straightAndRestarted(Seq(
      Seq(vec(1L, 1L, 0), vec(2L, 2L, 2)),
      Seq(vec(3L, 1L, 0)),
      Seq(vec(4L, 2L, 2), vec(5L, 1L, 1)),
      Seq(vec(6L, 1L, 1)))
    )(StreamingOps.semanticAdmit(_, 0.35, 3600000L))
    assert(vStraight.sortBy(_.vec_id) == Seq(SemDrop(3L, 1L, 1L, 1.0),
      SemDrop(4L, 2L, 2L, 1.0), SemDrop(6L, 1L, 5L, 1.0)))
    assert(vRestarted.sortBy(_.vec_id) == vStraight.sortBy(_.vec_id))
    // the DataFrame operators over (doc_id, text, ts) rows: the dedup
    // fingerprints and the near-dup band buckets live in state
    import java.sql.Timestamp
    def doc(id: Long, text: String): (Long, String, Timestamp) =
      (id, text, Timestamp.valueOf(f"2026-01-01 10:$id%02d:00"))
    def docs(ds: Dataset[(Long, String, Timestamp)]) =
      ds.toDF("doc_id", "text", "ts")
    val (dStraight, dRestarted) = straightAndRestarted(Seq(
      Seq(doc(1L, "aaa"), doc(2L, "bbb")),
      Seq(doc(3L, "aaa")),
      Seq(doc(4L, "bbb"), doc(5L, "ccc")),
      Seq(doc(6L, "ccc"), doc(7L, "ddd")))
    )(ds => StreamingOps.dedupExact(docs(ds), "ts", "20 minutes")
      .as[(Long, String, Timestamp)])
    assert(dStraight.map(_._1).sorted == Seq(1L, 2L, 5L, 7L))
    assert(dRestarted.sortBy(_._1) == dStraight.sortBy(_._1))
    val tA = "the quick brown fox jumps over the lazy dog again and again today"
    val tB = "the quick brown fox jumps over the lazy cat again and again today"
    val tU = "completely different content about distributed query engines at scale"
    val nearDup = Seq(Seq(doc(1L, tA)), Seq(doc(2L, tU)), Seq(doc(3L, tA)),
      Seq(doc(4L, tB)))
    val horizonMs = 30L * 60 * 1000
    val (nStraight, nRestarted) = straightAndRestarted(nearDup)(ds =>
      StreamingOps.nearDupCandidates(docs(ds), "ts", horizonMs))
    val byPair = Ordering.by((c: Cand) => (c.doc_a, c.doc_b, c.band))
    assert(nStraight.count(c => c.doc_a == 1L && c.doc_b == 3L) == 16)
    assert(nStraight.sorted(byPair) == StreamingOps.nearDupCandidates(
      docs(nearDup.flatten.toDS()), "ts", horizonMs).collect().toSeq.sorted(byPair))
    assert(nRestarted.sorted(byPair) == nStraight.sorted(byPair))
  }

  // ---- bounded-memory pins for the admission handlers (VERDICT r11:
  // the r11 handlers' batch.toSeq.sortBy materialized a whole source's
  // docs in one task — these pin the O(quota)/O(budget) replacements
  // through the onBuffer test seam, on adversarial arrival orders) ----

  test("selectSmallest: equals sort-take on adversarial orders and " +
       "never buffers more than k elements") {
    import graft.streaming.StreamingOps.DocArrival
    val rnd = new scala.util.Random(12)
    val n = 200000
    val quota = 15
    // worst case for a naive bound: arrivals in DESCENDING order, so
    // every element beats the current worst and churns the heap
    val desc = (n to 1 by -1).map(i => DocArrival(i.toLong, "s", i.toLong))
    val shuffled = rnd.shuffle((1 to n).toVector)
      .map(i => DocArrival(i.toLong, "s", i.toLong))
    val ord: Ordering[DocArrival] = Ordering.by(d => (d.ts_us, d.doc_id))
    for (input <- Seq(desc, shuffled)) {
      var maxBuf = 0
      val got = StreamingOps.selectSmallest(quota, input.iterator,
        sz => maxBuf = math.max(maxBuf, sz))(ord)
      assert(got == input.sorted(ord).take(quota))
      assert(maxBuf <= quota, s"buffer grew to $maxBuf > quota=$quota")
    }
    // k <= 0: nothing admitted, nothing buffered
    assert(StreamingOps.selectSmallest(0, desc.iterator)(ord).isEmpty)
  }

  test("prefixCandidates: keeps every admissible doc, evicts only " +
       "provably-rejected ones, and buffers O(budget) elements") {
    import graft.streaming.StreamingOps.DocTokArrival
    val rnd = new scala.util.Random(34)
    val n = 200000
    val budget = 100L
    // tok in [1, 9]: the buffer bound is budget/min(tok)+1 = 101
    def doc(i: Int) = DocTokArrival(i.toLong, "s", 1L + rnd.nextInt(9), i.toLong)
    val docs = (1 to n).map(doc)
    val ord: Ordering[DocTokArrival] = Ordering.by(d => (d.ts_us, d.doc_id))
    def admitWalk(sorted: Seq[DocTokArrival]): Seq[(Long, Long)] = {
      var used = 0L
      sorted.flatMap { d =>
        if (used < budget) { used += d.tok; Some(d.doc_id -> used) }
        else None
      }
    }
    val reference = admitWalk(docs.sorted(ord)) // O(n) memory, spec-only
    for (input <- Seq(docs.reverse, rnd.shuffle(docs.toVector))) {
      var maxBuf = 0
      val cands = StreamingOps.prefixCandidates(budget, input.iterator,
        sz => maxBuf = math.max(maxBuf, sz))
      assert(admitWalk(cands) == reference)
      assert(maxBuf <= budget + 1,
        s"buffer grew to $maxBuf > budget+1=${budget + 1}")
    }
    assert(StreamingOps.prefixCandidates(0L, docs.iterator).isEmpty)
  }

  test("selectNewIds: equals the sequential admission walk on adversarial " +
       "orders (duplicates, stored ids, over-capacity) and buffers O(k)") {
    import graft.streaming.StreamingOps.BandRow
    val rnd = new scala.util.Random(78)
    val n = 200000
    val cap = 32
    val stored = (1L to 12L).toSet // bucket already partly full
    val k = cap - stored.size
    // ids drawn from a SMALL range so duplicate arrivals and stored-id
    // re-arrivals are dense — the cases a naive k-smallest pick gets wrong
    def row(i: Int, id: Long) =
      BandRow(id, 3, 99L, new java.sql.Timestamp(i.toLong))
    val rows = (1 to n).map(i => row(i, 1L + rnd.nextInt(200)))
    // reference: the r12 whole-group walk (O(n) memory, spec-only)
    def walk(sorted: Seq[BandRow]): Seq[Long] = {
      var st = stored.toList.sorted
      val admitted = Seq.newBuilder[Long]
      sorted.foreach { r =>
        if (st.size < cap && !st.contains(r.doc_id)) {
          admitted += r.doc_id; st = r.doc_id :: st
        }
      }
      admitted.result()
    }
    val ord: Ordering[BandRow] = Ordering.by(r => (r.ts.getTime, r.doc_id))
    val reference = walk(rows.sorted(ord))
    for (input <- Seq(rows.reverse, rnd.shuffle(rows.toVector))) {
      var maxBuf = 0
      val sel = StreamingOps.selectNewIds(k, stored, input.iterator,
        sz => maxBuf = math.max(maxBuf, sz))
      assert(sel.admitted.map(_._2) == reference)
      assert(sel.admitted.forall(_._3 == 3))
      assert(sel.maxTs == n.toLong && sel.sawAny)
      assert(maxBuf <= k, s"buffer grew to $maxBuf > k=$k")
    }
    // full bucket: nothing admitted, nothing buffered, clock still ticks
    val full = StreamingOps.selectNewIds(0, stored, rows.iterator)
    assert(full.admitted.isEmpty && full.maxTs == n.toLong && full.sawAny)
  }

  test("tokenBudgetAdmit batch branch (running-sum window) equals the " +
       "streaming handler fed the same rows as micro-batches") {
    import spark.implicits._
    import graft.streaming.StreamingOps.DocTokArrival
    val rnd = new scala.util.Random(56)
    val rows = (1 to 400).map { i =>
      DocTokArrival(i.toLong, s"s${i % 5}", 1L + rnd.nextInt(40), i.toLong)
    }
    val batch = StreamingOps.tokenBudgetAdmit(rows.toDS(), budget = 200L)
      .collect().map(a => (a.doc_id, a.source, a.tok, a.budget_used)).sorted
    val dir = Files.createTempDirectory("graft-st8-sym").toString
    val chunks = rows.grouped(150).toSeq
    chunks.head.toDS().coalesce(1).write.parquet(s"$dir/b0")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("tok", LongType), StructField("ts_us", LongType)))
    val in = spark.readStream.schema(schema).parquet(s"$dir/b*")
      .as[DocTokArrival]
    val q = StreamingOps.tokenBudgetAdmit(in, budget = 200L)
      .writeStream.format("memory").queryName("st8sym")
      .outputMode("append").start()
    // feed the remaining chunks one micro-batch at a time, IN ARRIVAL
    // ORDER — the regime the batch ≡ streaming contract covers
    try chunks.tail.zipWithIndex.foldLeft(q.processAllAvailable()) {
      case (_, (chunk, i)) =>
        chunk.toDS().coalesce(1).write.parquet(s"$dir/b${i + 1}")
        q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("st8sym").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(streamed.toSeq == batch.toSeq)
  }

  test("semanticAdmit: stream equals batch across shuffled micro-batches; " +
       "cap freezes the stored prefix; buffer stays O(maxCell)") {
    import spark.implicits._
    import graft.streaming.StreamingOps.{SemDrop, VecArrival}
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def axis(i: Int): Seq[Float] = {
      val a = Array.fill(8)(0f); a(i) = 1f; a.toSeq
    }
    // cell 1: v1 (e0), v2 = e0 dup (cos 1.0 -> drops, kept_by 1),
    //         v3 orthogonal (survives); cell 2: v4 (e2), v5 dup (drops)
    val rows = Seq(
      VecArrival(1L, 1L, axis(0), ts(1000)),
      VecArrival(2L, 1L, axis(0), ts(2000)),
      VecArrival(3L, 1L, axis(1), ts(3000)),
      VecArrival(4L, 2L, axis(2), ts(4000)),
      VecArrival(5L, 2L, axis(2), ts(5000)))
    val expected = Set(SemDrop(2L, 1L, 1L, 1.0), SemDrop(5L, 2L, 4L, 1.0))
    // batch half
    val batchOut = StreamingOps
      .semanticAdmit(rows.toDS(), 0.35, 3600000L).collect().toSet
    assert(batchOut == expected)
    // streaming: two micro-batches, arrival-shuffled WITHIN each batch
    val dir = java.nio.file.Files.createTempDirectory("graft-semadmit").toString
    Seq(rows(2), rows(0), rows(1)).toDS().write.parquet(s"$dir/b1")
    Seq(rows(4), rows(3)).toDS().write.parquet(s"$dir/b2")
    val in = spark.readStream.schema(rows.toDS().schema).parquet(s"$dir/b*")
      .as[VecArrival]
    val q = StreamingOps.semanticAdmit(in, 0.35, 3600000L)
      .writeStream.format("memory").queryName("semadmit_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("semadmit_stream").collect()
      .map(r => SemDrop(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed == expected)
    // cap: maxCell = 2 freezes the prefix at {v1, v2}; a later dup of v1
    // is admitted UNCHECKED (bounded-state recall trade, over-admission)
    val capped = StreamingOps.semanticAdmit(
      (rows.take(3) :+ VecArrival(6L, 1L, axis(0), ts(6000))).toDS(),
      0.35, 3600000L, maxCell = 2).collect().toSet
    assert(capped == Set(SemDrop(2L, 1L, 1L, 1.0)),
      s"beyond-cap arrivals must not be checked or stored, got $capped")
    // buffer bound on an adversarial descending-arrival stream
    val n = 50000
    val big = (n to 1 by -1).map(i =>
      VecArrival(i.toLong, 9L, axis(i % 8), ts(i.toLong)))
    var maxBuf = 0
    StreamingOps.semanticAdmit(big.toDS(), 0.35, 3600000L, maxCell = 16,
      sz => maxBuf = math.max(maxBuf, sz)).collect()
    assert(maxBuf <= 16, s"buffer grew to $maxBuf > maxCell=16")
  }
}
