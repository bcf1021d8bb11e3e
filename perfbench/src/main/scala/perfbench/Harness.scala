package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.StructType

import graft.{GraftExtensions, Materialize, SharedStage}
import graft.frontend.SqliteCompat
import graft.queries.StackExchangeQueries
import graft.sources.{StackExchange, SyntheticStackExchange}
import graft.testing.Comparator

/** The benchmark's JVM side: one client thread driving a closed loop of
  * calls through the program's public entry points on `local[4]`.
  *
  * Usage: `perfbench.Harness <workload> <seed> <passes> <trace 0|1> <outDir>
  * <dataDir> <setupReps>`. Writes `<outDir>/raw.json` (per-call timings,
  * stamps, correctness evidence and, when tracing, the raw spans) and, for
  * catalog workloads, each call kind's reference rows as parquet under
  * `<outDir>/check/` for the DuckDB oracle. `perfbench/run.py` turns the
  * raw record into metrics.
  *
  * Phases: set-up (session, data generated or loaded `setupReps` times,
  * one warm-up call per kind whose rows become the kind's reference), the
  * timed section (`passes` passes, each calling every kind once in an
  * order drawn from the seed), then, with tracing, the same passes again
  * under the listeners, the same passes untraced (the overhead baseline),
  * the kernel probe and the front-end probe. */
object Harness {
  val Cores = 4
  val CodegenCacheEntries = 2000

  final case class Call(kind: String, pass: Int, startNs: Long, buildNs: Long,
      executeNs: Long, cleanupNs: Long, rows: Array[Row], error: String,
      persisted: Int, storedBytes: Long, plan: String, schema: StructType)

  def main(args: Array[String]): Unit = {
    if (args.length != 7) {
      System.err.println("usage: Harness <workload> <seed> <passes> <trace 0|1> " +
        "<outDir> <dataDir> <setupReps>")
      sys.exit(2)
    }
    val Array(workload, seedArg, passesArg, traceArg, out, dataDir, repsArg) = args
    val seed = seedArg.toLong
    val passes = passesArg.toInt
    val trace = traceArg == "1"
    val setupReps = repsArg.toInt
    require(Set("exercises", "curation")(workload), s"unknown workload $workload")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(out)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    GraftExtensions.register(spark)

    // ---- set-up: data, repeated so the reported time is a median
    val dataS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var kinds: Seq[Kind] = Nil
    var seData: Option[StackExchange.Data] = None
    var dataStamp: Map[String, Any] = Map.empty
    (1 to setupReps).foreach { rep =>
      val t0 = System.nanoTime()
      workload match {
        case "exercises" =>
          val sizes = SyntheticStackExchange.Sizes()
          val data = SyntheticStackExchange.writeAndLoad(spark, s"$out/se$rep", sizes)
          data.register()
          seData = Some(data)
          kinds = Workloads.exercises(spark, data)
          dataStamp = ListMap("generator" -> "SyntheticStackExchange.Sizes()",
            "users" -> sizes.users, "posts" -> sizes.posts, "votes" -> sizes.votes,
            "comments" -> sizes.comments, "badges" -> sizes.badges)
        case _ =>
          val rows = Seq("documents", "embeddings").map { t =>
            t -> spark.read.parquet(s"$dataDir/$t.parquet").count()
          }
          kinds = Workloads.catalog(spark, dataDir, Workloads.curation)
          dataStamp = ListMap("dir" -> dataDir) ++ rows.map { case (t, n) => s"${t}_rows" -> n }
      }
      dataS += (System.nanoTime() - t0) / 1e9
    }

    // ---- warm-up: one call per kind, in the declared order (longest
    // first, so the concurrent pass ends early and evenly); its rows are
    // the kind's reference
    val warmT0 = System.nanoTime()
    val warm = warmUp(spark, kinds)
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val refs: Map[String, Call] = warm.map(c => c.kind -> c).toMap
    val schemas: Map[String, StructType] =
      warm.filter(_.schema != null).map(c => c.kind -> c.schema).toMap

    settle()

    // ---- timed section
    val (calls, runNs) = timed(spark, kinds, passes, seed, traced = false)
    val peakRssKb = vmHwmKb()

    // ---- traced section and probes
    val traceRecord: Option[Map[String, Any]] = if (!trace) None else Some {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      val rule0 = RuleExecutor.getCurrentMetrics()
      val (tcalls, tRunNs) = timed(spark, kinds, passes, seed, traced = true)
      val ruleNs = (RuleExecutor.getCurrentMetrics() - rule0).time
      ListenerBus.drain(spark.sparkContext)
      val spans = tracer.snapshot()
      tracer.clear()
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
      // the first timed section after set-up runs slower than later ones,
      // so the overhead baseline is an untraced repeat of the traced passes
      val (_, untracedNs) = timed(spark, kinds, passes, seed, traced = false)
      spark.sparkContext.addSparkListener(tracer)
      val fnProbe = functionProbe(spark, out)
      ListenerBus.drain(spark.sparkContext)
      val fnSpans = tracer.snapshot()
      spark.sparkContext.removeSparkListener(tracer)
      val frontEnd = frontEndProbe(spark, out, seData)
      ListMap(
        "run_ns" -> tRunNs,
        "untraced_run_ns" -> untracedNs,
        "rule_ns" -> ruleNs,
        "calls" -> tcalls.map(callJson(_, refs)),
        "plans" -> tcalls.filter(_.plan != null).map(c => c.kind -> c.plan).toMap,
        "spans" -> spans,
        "functions" -> ListMap("rows" -> fnProbe, "spans" -> fnSpans),
        "frontend_ms" -> frontEnd)
    }

    // ---- correctness evidence, outside every timed section
    val checks: Seq[Map[String, Any]] = workload match {
      case "exercises" => exerciseChecks(spark, refs, schemas)
      case _ =>
        kinds.flatMap { k =>
          refs.get(k.name).filter(_.error == null).map { r =>
            val path = s"$out/check/${k.name}"
            spark.createDataFrame(r.rows.toSeq.asJava, schemas(k.name))
              .coalesce(1).write.mode("overwrite").parquet(path)
            ListMap("kind" -> k.name, "oracle" -> graft.SparkEntry.oracleSql.get(k.name),
              "parquet" -> path)
          }
        }
    }

    val record = ListMap(
      "workload" -> workload,
      "stamp" -> ListMap(
        "seed" -> seed, "passes" -> passes, "cpus" -> Cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "codegen_cache_entries" -> CodegenCacheEntries,
        "materialize_mode" -> Materialize.mode,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "data" -> dataStamp),
      "setup" -> ListMap("session_s" -> sessionS, "data_s" -> dataS.toSeq,
        "warmup_s" -> warmupS),
      "run_ns" -> runNs,
      "peak_rss_kb" -> peakRssKb,
      "kinds" -> kinds.map(_.name),
      "references" -> warm.map(callJson(_, refs)),
      "calls" -> calls.map(callJson(_, refs)),
      "checks" -> checks,
      "trace" -> traceRecord)
    Files.writeString(Paths.get(s"$out/raw.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    spark.stop()
  }

  def session(out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      // Spark's default of 100 generated classes is smaller than either
      // workload's mix, so every pass recompiles (Janino, then the JIT)
      // what the last pass evicted: measured at 4 cores, an exercises pass
      // takes 11-15 s with the default and 6-7.5 s with room for the mix,
      // and the recompilation is most of the run-to-run noise
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One call per kind, [[Cores]] at a time: a cold JVM spends most of a
    * first call compiling (JIT, generated code), which overlaps well, and
    * the timed section stays a single client. Calls release their
    * persisted data only once all have finished, as one call's cleanup
    * would release blocks another is still reading. */
  def warmUp(spark: SparkSession, kinds: Seq[Kind]): Seq[Call] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Cores)
    try {
      val futures = kinds.map(k => pool.submit(() =>
        call(spark, k, -1, traced = false, withPlan = false, clean = false)))
      futures.map(_.get())
    } finally {
      pool.shutdown()
      cleanup(spark)
    }
  }

  /** The kinds in pass `pass`'s order: a shuffle drawn from the seed. */
  def order(kinds: Seq[Kind], seed: Long, pass: Int): Seq[Kind] =
    new Random(seed * 1000003L + pass).shuffle(kinds)

  def timed(spark: SparkSession, kinds: Seq[Kind], passes: Int, seed: Long,
      traced: Boolean): (Seq[Call], Long) = {
    val planned = scala.collection.mutable.Set.empty[String]
    val t0 = System.nanoTime()
    val calls = for (p <- 0 until passes; k <- order(kinds, seed, p)) yield {
      val c = call(spark, k, p, traced, withPlan = traced && !planned(k.name))
      planned += k.name
      c
    }
    (calls, System.nanoTime() - t0)
  }

  /** One call: build, execute (collect the rows a user receives), clean
    * up what it persisted. Spans are tagged for the tracer; `traced` also
    * measures what the call left persisted, and `withPlan` keeps the
    * executed plan's tree for the fingerprint. */
  def call(spark: SparkSession, k: Kind, pass: Int, traced: Boolean,
      withPlan: Boolean, clean: Boolean = true): Call = {
    val sc = spark.sparkContext
    def span(phase: String): Unit =
      sc.setLocalProperty(Tracer.SpanKey, if (phase == null) null else s"${k.name}/$phase")
    val pinned0 = SharedStage.pinnedIds
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var rows: Array[Row] = Array.empty
    var error: String = null
    var plan: String = null
    var schema: StructType = null
    try {
      span("build")
      val df = k.build()
      t1 = System.nanoTime()
      span("execute")
      rows = df.collect()
      t2 = System.nanoTime()
      schema = df.schema
      if (withPlan) plan = finalPlan(df)
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        if (t1 == t0) t1 = System.nanoTime()
        t2 = System.nanoTime()
    }
    val tc = System.nanoTime()
    span("cleanup")
    val held = sc.getPersistentRDDs.keySet.toSet -- pinned0
    val stored = if (!traced) 0L else
      sc.getRDDStorageInfo.filter(i => held(i.id)).map(i => i.memSize + i.diskSize).sum
    if (clean) cleanup(spark)
    span(null)
    val t3 = System.nanoTime()
    Call(k.name, pass, t0, t1 - t0, t2 - t1, t3 - tc, rows, error,
      held.size, stored, plan, schema)
  }

  /** Release what a call persisted, as the program's own bench harness
    * does between runs: cached plans, and every persisted RDD except the
    * cross-query artifacts `SharedStage` pins. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val pinned = SharedStage.pinnedIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinned.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.treeString(verbose = false)
    case p => p.treeString(verbose = false)
  }

  def callJson(c: Call, refs: Map[String, Call]): Map[String, Any] = {
    val hash = if (c.error == null) Canon.hash(c.rows) else null
    val ref = refs.get(c.kind).filter(_.error == null).map(r => Canon.hash(r.rows))
    ListMap("kind" -> c.kind, "pass" -> c.pass, "start_ns" -> c.startNs,
      "build_ns" -> c.buildNs, "execute_ns" -> c.executeNs,
      "cleanup_ns" -> c.cleanupNs, "rows" -> c.rows.length, "error" -> c.error,
      "matches_reference" -> (hash != null && ref.contains(hash)),
      "persisted_rdds" -> c.persisted, "stored_bytes" -> c.storedBytes)
  }

  /** The reference's equality checks over the warm-up rows: SQL ≡ DSL for
    * every exercise (order-insensitive for Ex1/Ex6, as the reference's
    * `all_equal` toggle), and verbatim SQLite text ≡ DSL. */
  def exerciseChecks(spark: SparkSession, refs: Map[String, Call],
      schemas: Map[String, StructType]): Seq[Map[String, Any]] = {
    def frame(kind: String): Option[DataFrame] =
      refs.get(kind).filter(_.error == null).map(r =>
        spark.createDataFrame(r.rows.toSeq.asJava, schemas(kind)))
    Workloads.exerciseNames.flatMap { ex =>
      val dsl = frame(s"$ex/dsl")
      val sqlOk = (frame(s"$ex/spark_sql"), dsl) match {
        case (Some(a), Some(b)) =>
          if (StackExchangeQueries.orderInsensitive(ex)) Comparator.equalUnordered(a, b)
          else Comparator.equalOrdered(a, b)
        case _ => false
      }
      val verbatim = frame(s"$ex/sqlite_compat")
      val verbatimEq = (verbatim, dsl) match {
        case (Some(a), Some(b)) =>
          a.columns.length == b.columns.length &&
            Comparator.equalUnordered(a.toDF(b.columns.toSeq: _*), b)
        case _ => false
      }
      // SQLite's answer is undefined when ORDER BY ties straddle the LIMIT;
      // then any tied rows are a valid answer, which is checked instead
      val (verbatimOk, defined) =
        if (verbatimEq || verbatim.isEmpty || dsl.isEmpty || !LimitKey.contains(ex))
          (verbatimEq, true)
        else tiedLimitAnswer(spark, ex, refs(s"$ex/sqlite_compat").rows,
          refs(s"$ex/dsl").rows)
      Seq(
        ListMap("check" -> s"$ex spark_sql == dsl", "ok" -> sqlOk, "defined" -> true,
          "kinds" -> Seq(s"$ex/spark_sql", s"$ex/dsl")),
        ListMap("check" -> s"$ex sqlite_compat == dsl", "ok" -> verbatimOk,
          "defined" -> defined, "kinds" -> Seq(s"$ex/sqlite_compat")))
    }
  }

  /** ORDER BY column of the verbatim texts that end in `LIMIT 10`. */
  val LimitKey: Map[String, String] = Map(
    "ex2" -> "FavoriteTotal", "ex3" -> "PositiveAnswerCount", "ex5" -> "CommentsTotalScore")

  /** Whether the verbatim `LIMIT 10` answer is undefined (ties across the
    * cut) and, if so, whether `got` is one valid answer: its rows all
    * belong to the unlimited result and its sort keys equal the DSL's.
    * Returns (ok, defined). */
  def tiedLimitAnswer(spark: SparkSession, ex: String, got: Array[Row],
      dsl: Array[Row]): (Boolean, Boolean) = {
    val text = Workloads.Verbatim.limitless(ex)
    val full = SqliteCompat.sql(spark, text).collect()
    val key = full.headOption.map(_.fieldIndex(LimitKey(ex))).getOrElse(0)
    val defined = full.length <= 10 || full(9).get(key) != full(10).get(key)
    if (defined) return (false, true)
    val pool = full.groupBy(r => Canon.cell(r)).map { case (k, v) => k -> v.length }
    val used = got.groupBy(r => Canon.cell(r)).map { case (k, v) => k -> v.length }
    val subset = used.forall { case (k, n) => pool.getOrElse(k, 0) >= n }
    val keys = (rows: Array[Row]) => rows.map(r => Canon.cell(r.get(key))).sorted.toSeq
    (subset && keys(got) == keys(dsl), false)
  }

  /** Build-only cost of the six exercises through each front-end (parse,
    * SQLite rewrites, analysis; nothing executes), the median of three
    * repetitions in ms. Workloads without Stack Exchange data build over a
    * tiny generated copy: analysis does not read rows. */
  def frontEndProbe(spark: SparkSession, out: String,
      data: Option[StackExchange.Data]): Map[String, Any] = {
    val d = data.getOrElse {
      val tiny = SyntheticStackExchange.writeAndLoad(spark, s"$out/se-probe",
        SyntheticStackExchange.Sizes().scaled(0.001))
      tiny.register()
      tiny
    }
    val reps = (1 to 3).map { _ =>
      Workloads.FrontEnds.map { fe =>
        fe -> Workloads.exerciseNames.map { ex =>
          val t0 = System.nanoTime()
          Workloads.exercise(spark, d, ex, fe)
          (System.nanoTime() - t0) / 1e6
        }.sum
      }.toMap
    }
    Workloads.FrontEnds.map { fe =>
      fe -> reps.map(_(fe)).sorted.apply(reps.size / 2)
    }.to(ListMap)
  }

  /** Rows of the kernel probe's input; each probe is a one-stage plan
    * calling one registered function over that cached input. */
  val ProbeRows = 20000

  val ProbeExprs: Seq[(String, String)] = Seq(
    "minhash_sig" -> "minhash_sig(shingles)",
    "simhash64" -> "simhash64(text)",
    "cosine_sim" -> "cosine_sim(e1, e2)",
    "word_shingle_hashes" -> "word_shingle_hashes(text, 3)",
    "rolling_hash" -> "rolling_hash(text, 8)",
    "sliding_min" -> "sliding_min(hs, 4)",
    "bigram_poly_buckets" -> "bigram_poly_buckets(text, 1000003, 512)")

  /** Runs each kernel five times over a fixed generated input (120-word
    * texts over a 31-word vocabulary, 64-dim float vectors), tagging the
    * jobs `fn:<name>/<rep>` for the tracer. Returns the input row count. */
  def functionProbe(spark: SparkSession, out: String): Long = {
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
      "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
      "table", "the", "value", "vector", "window").map(w => s"'$w'").mkString(",")
    val input = spark.range(ProbeRows).selectExpr(
      s"concat_ws(' ', transform(sequence(1, 120), i -> element_at(array($vocab), " +
        "cast(pmod(xxhash64(id, i), 31) + 1 AS INT)))) AS text",
      "transform(sequence(1, 64), i -> CAST((pmod(xxhash64(id, i, 'a'), 2001) - 1000) / 1000.0 AS FLOAT)) AS e1",
      "transform(sequence(1, 64), i -> CAST((pmod(xxhash64(id, i, 'b'), 2001) - 1000) / 1000.0 AS FLOAT)) AS e2")
      .selectExpr("text", "e1", "e2", "word_shingle_hashes(text, 3) AS shingles",
        "rolling_hash(text, 8) AS hs")
      .repartition(Cores)
      .cache()
    input.count()
    val sc = spark.sparkContext
    for (rep <- 1 to 5; (name, expr) <- ProbeExprs) {
      sc.setLocalProperty(Tracer.SpanKey, s"fn:$name/$rep")
      input.selectExpr(s"$expr AS out").write.format("noop").mode("overwrite").save()
    }
    sc.setLocalProperty(Tracer.SpanKey, null)
    input.unpersist(blocking = true)
    ProbeRows
  }

  /** Ends set-up: collects the warm-up's garbage, waits (at most 5 s)
    * until the JIT has been idle for half a second, and restarts the
    * process's peak-RSS count, so the reported peak is the timed
    * section's. */
  def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 2 && System.nanoTime() - t0 < 5e9) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now - last < 5) quiet + 1 else 0
      last = now
    }
    Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
  }

  /** Peak resident set size of this process (kB), from /proc. */
  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(-1L)
}

/** Order-insensitive digest of a result, with doubles rounded to 6 places
  * (as the DuckDB oracle comparison rounds them), so two calls of one kind
  * can be compared without keeping both results. */
object Canon {
  def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else { val s = f"$d%.6f"; if (s == "-0.000000") "0.000000" else s }
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(cell).mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString + s":${rows.length}"
  }
}
