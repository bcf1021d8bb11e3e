package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Perf-only synthetic scale-up generator for the three fact tables the
  * expensive catalog pipelines read (`documents`, `events`,
  * `embeddings`), shape-matched to the driver testdata at sf0.1 (row
  * ratios, token-count range, 31-type vocabulary, lang/source mix, dup
  * rate, 64-dim embeddings, 30-day event span) so time-vs-SF slopes
  * measured on this series extrapolate the committed sf0.1 numbers.
  * The driver's sf dirs stop at 0.1 (17 MB) — every 100 TB claim in the
  * operator docs is an argued plan shape; this generator exists to
  * falsify them cheaper than a plan read (VERDICT r10 #2): a superlinear
  * slope at sf0.3→sf1 is the first real scale signal the harness can
  * produce. No DuckDB oracle is needed or produced — correctness for
  * these operators is gated at sf0.01 on the driver data; this data is
  * only ever timed.
  *
  * The generation itself is scale-native: `spark.range` + column
  * expressions, fully distributed, no driver-side loops — the same
  * recipe would emit petabytes on a real cluster by raising `sf`.
  *
  * A `zipf` variant regenerates `documents` with a 10,000-type
  * Zipf(s≈1)-distributed vocabulary (inverse-CDF `pow(V, u)` index:
  * frequency of type i is ∝ 1/i) — the open-web token-frequency shape
  * that t12's head-broadcast split ([[graft.queries.TextAnalysis
  * .t12SurprisalZipf]]) is designed for, and which the near-uniform
  * harness vocabulary cannot exhibit. Since r15 the head ranks ARE the
  * English function words ([[ZipfHead]]) so the langid-gated pipelines
  * stay non-degenerate on this corpus. SCALING.md records the measured
  * crossover between the two t12 plans on both corpora.
  *
  * A `skew` variant regenerates `embeddings` with HALF the vectors in
  * one tight cluster (a shared base point plus ±0.2/dim jitter —
  * within-cluster cosines ≈0.95, far above the d13 threshold; the
  * jitter is deliberately NOT tighter, because at ±0.02 every
  * cluster-member-to-cluster-seed cosine rounds to the same handful of
  * 4-dp values and the c_id tie-break re-concentrates the cluster into
  * one cell — a real finding about rounded-cosine assignment, recorded
  * in SCALING.md) — the dominant-semantic-cluster
  * shape d13's cell blocking must survive. The claim under test: the
  * id-mix centroid seeds are drawn uniformly from the CORPUS, so a
  * region holding 50 % of the vectors also holds ~50 % of the seeds and
  * splits itself across ~C/2 cells (density-proportional seeding); cell
  * populations stay near the balanced-sqrt-rule mean (N / C, see
  * graft.queries.Similarity's codebook note) and the within-cell pair
  * stage keeps its N^1.5 growth even under skew.
  *
  * Usage: runMain graft.ScaleGen <outDir> <sf> [zipf] [skew]
  */
object ScaleGen {

  /** The harness corpus vocabulary (distinct tokens of the driver
    * documents table at sf0.1, extracted once via DuckDB). */
  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** Zipf-mode vocabulary size (open-web corpora carry 1e5–1e7 types;
    * 1e4 keeps the head/tail split non-degenerate at every test SF). */
  private val ZipfV = 10000

  /** Zipf-mode head types (r15, VERDICT r14 #5): ranks 1–6 of the Zipf
    * draw are the English function words of the t3 langid profile —
    * exactly how natural language behaves (the head of a real
    * token-frequency law IS the stopword set; "the" alone is ~6 % of
    * English). Under the inverse-CDF draw their combined mass is
    * ln 6 / ln V ≈ 19.5 %, so the langid gate sees the evidence an
    * in-domain corpus provides and p6's funnel no longer empties at
    * stage c (the r14 zipf row was degenerate: a stopword-free `w<k>`
    * vocabulary predicts `und` for every document). Ranks 7+ keep the
    * synthetic `w<k>` types, so the head/tail frequency SHAPE t12/t20
    * stress is unchanged — only the head types' spelling moved onto
    * the stopword profile. */
  private val ZipfHead = Seq("the", "a", "of", "to", "in", "and")

  private def h(cols: Column*): Column = xxhash64(cols: _*)

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = args(1).toDouble
    val zipf = args.contains("zipf")
    val skew = args.contains("skew")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = BenchSupport.session(cpus)

    // ---- documents: 50k rows/SF, 10–100 tokens/doc, ~0.4% exact-dup
    // pairs (seed redirection: a flagged doc re-derives the PREVIOUS
    // doc's text, giving d1/d6/d8 real dedup work at every SF)
    val nDocs = math.max(100L, (50000 * sf).toLong)
    val docId = col("id")
    val seed = when(
      pmod(h(docId, lit("dup")), lit(250)) === 0 && docId > 0, docId - 1
    ).otherwise(docId)
    val tok: Column => Column =
      if (zipf) i => {
        val idx = ceil(pow(lit(ZipfV.toDouble),
          pmod(h(seed, lit("tok"), i), lit(1000000)) / lit(1000000.0)))
          .cast("long")
        when(idx <= ZipfHead.size,
          element_at(array(ZipfHead.map(lit): _*), idx.cast("int")))
          .otherwise(concat(lit("w"), idx))
      }
      else i => element_at(
        array(Vocab.map(lit): _*),
        (pmod(h(seed, lit("tok"), i), lit(Vocab.size)) + 1).cast("int"))
    val langR = pmod(h(seed, lit("lang")), lit(20))
    val documents = spark.range(nDocs)
      .withColumn("n_tok", (pmod(h(seed, lit("ntok")), lit(91)) + 10).cast("int"))
      .withColumn("text",
        array_join(transform(sequence(lit(1), col("n_tok")), tok), " "))
      .select(
        docId.as("doc_id"),
        col("text"),
        when(langR < 8, "en").when(langR < 11, "de").when(langR < 14, "es")
          .when(langR < 17, "fr").otherwise("zh").as("lang"),
        concat(lit("src"), pmod(h(docId, lit("src")), lit(20))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    documents.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // ---- events: 1M rows/SF over 15k users/SF, 30-day span. `ts` is
    // written as raw Long NANOS — the driver parquet carries
    // TIMESTAMP(NANOS), which the session conf
    // (spark.sql.legacy.parquet.nanosAsLong) surfaces as LongType, so a
    // Long column here reads through the exact same downstream contract
    // (EventQueries' `ts div 1000` micros derivation).
    val nEvents = math.max(1000L, (1000000 * sf).toLong)
    val nUsers = math.max(10L, (15000 * sf).toLong)
    val eId = col("id")
    val epoch0 = 1704067200L // 2024-01-01T00:00:00Z, the driver span start
    val events = spark.range(nEvents).select(
      eId.as("event_id"),
      (lit(epoch0 * 1000000000L)
        + pmod(h(eId, lit("ts")), lit(30L * 86400)) * 1000000000L
        + pmod(h(eId, lit("us")), lit(1000000L)) * 1000L).as("ts"),
      pmod(h(eId, lit("u")), lit(nUsers)).as("user_id"),
      element_at(
        array(lit("view"), lit("click"), lit("signup"), lit("purchase"), lit("error")),
        (pmod(h(eId, lit("et")), lit(5)) + 1).cast("int")).as("event_type"),
      round(pmod(h(eId, lit("v")), lit(56021)) / 100.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(eId, lit("k")), lit(100)), lit("}")).as("props"))
    events.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // ---- embeddings: 20k rows/SF, 64-dim float, 10 labels. Uniform dims
    // land in [-1, 1]; skew-mode CLUSTER dims can reach ±1.2 (base in
    // [-1,1] plus ±0.2 jitter — ADVICE r13) which no consumer assumes
    // away: every downstream operator normalizes by magnitude (cosine) or
    // compares raw dots, never clamps to a fixed range.
    // skew mode: vectors with h(id,"c")%2==0 sit in ONE tight cluster
    // (shared base + ±0.2/dim jitter, cosines ≈0.95 — wide enough that
    // rounded-4dp assignment cosines do not tie; see scaladoc) — the
    // dominant semantic cluster d13's blocking must survive.
    val nVecs = math.max(100L, (20000 * sf).toLong)
    val vId = col("id")
    val uniformDim: Column => Column =
      j => pmod(h(vId, lit("e"), j), lit(2001)) / 1000.0 - 1
    val clusterDim: Column => Column =
      j => pmod(h(lit(-1L), lit("base"), j), lit(2001)) / 1000.0 - 1 +
        (pmod(h(vId, lit("jit"), j), lit(401)) / 1000.0 - 0.2)
    val dim: Column => Column =
      if (skew) j => when(pmod(h(vId, lit("c")), lit(2)) === 0,
        clusterDim(j)).otherwise(uniformDim(j))
      else uniformDim
    val embeddings = spark.range(nVecs).select(
      vId.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j => dim(j).cast("float"))
        .as("embedding"),
      pmod(h(vId, lit("l")), lit(10)).cast("int").as("label"))
    embeddings.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    println(s"""{"outDir":"$outDir","sf":$sf,"zipf":$zipf,"skew":$skew,"documents":$nDocs,"events":$nEvents,"embeddings":$nVecs}""")
    spark.stop()
  }
}
