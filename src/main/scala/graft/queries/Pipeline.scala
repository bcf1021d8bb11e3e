package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** End-to-end composition: the curation funnel a corpus run actually
  * executes, as ONE query. The individual operators (quality scoring,
  * language ID, exact dedup) live in [[TextAnalysis]] and [[Dedup]];
  * this module proves they COMPOSE — the property a user of the library
  * cares about — and reports the funnel every pipeline prints: docs and
  * tokens surviving each cumulative stage.
  *
  * Stages (cumulative — each applies on top of the previous):
  *   a_ingest   every document
  *   b_quality  t2 quality score ≥ 0.5 (thresholded UNROUNDED — both
  *              engines compute the identical IEEE expression tree)
  *   c_langid   t3's predicted language is a supported one (drops und/zh)
  *   d_dedup    d1's keep-lowest-doc_id-per-md5 policy, applied AMONG the
  *              stage-c survivors (dedup after filtering, the real order:
  *              no token budget wasted deduping docs already dropped)
  *
  * Scale shape: one corpus scan computes every per-doc flag; the dedup
  * stage is one shuffle on the md5 fingerprint with a running-count
  * window (first l-surviving doc per fingerprint — no join-back, no
  * second scan); the funnel itself is a single 4-way stack of one
  * aggregated row. Token totals are exact integers. */
object Pipeline {

  /** The per-doc staged flags shared by p1 and p2: one corpus scan
    * computes tok/quality/langid/fingerprint, then the running-count
    * window derives the dedup-survivor flag. */
  private def stagedFlags(s: SparkSession, dir: String): DataFrame = {
    val flagged = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"),
        TextAnalysis.qualityExpr(col("text"), col("n_chars")).as("quality"),
        TextAnalysis.predictedExpr(col("text")).as("predicted"),
        md5(col("text").cast("binary")).as("fp"))
      .withColumn("q_pass", col("quality") >= 0.5)
      .withColumn("l_pass",
        col("q_pass") && col("predicted").isin("en", "de", "fr", "es"))
    // first stage-c survivor per fingerprint, via a running count of
    // prior survivors in the same fingerprint group (one window, no
    // self-join): d_pass = l_pass && no earlier l_pass doc shares fp
    val wPrev = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    flagged.withColumn("d_pass",
      col("l_pass") &&
        coalesce(sum(when(col("l_pass"), 1L).otherwise(0L)).over(wPrev),
          lit(0L)) === 0L)
  }

  /** The staged flags as a shared pipeline artifact ([[graft.SharedStage]]):
    * p1 IS the stage that computes them (it deliberately reads the cold
    * path and is measured at full cost), while p2 — the NEXT stage of the
    * same curation run — consumes the materialized copy and pays only its
    * marginal near-dup work, exactly like d7 over d6's star edges. First
    * use computes, so the entry stays self-contained under Verify. */
  private def sharedStagedFlags(s: SparkSession, dir: String): DataFrame =
    graft.SharedStage.getOrCompute(s, dir, "p1_staged_flags") {
      stagedFlags(s, dir)
    }

  def p1CurationFunnel(s: SparkSession, dir: String): DataFrame =
    stagedFlags(s, dir)
      .agg(
        count(lit(1)).as("n0"), sum(col("tok")).as("t0"),
        sum(when(col("q_pass"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("q_pass"), col("tok")).otherwise(0L)).as("t1"),
        sum(when(col("l_pass"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("l_pass"), col("tok")).otherwise(0L)).as("t2"),
        sum(when(col("d_pass"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("d_pass"), col("tok")).otherwise(0L)).as("t3"))
      .selectExpr(
        """stack(4,
          |  'a_ingest',  n0, t0,
          |  'b_quality', n1, t1,
          |  'c_langid',  n2, t2,
          |  'd_dedup',   n3, t3) AS (stage, n_docs, n_tokens)""".stripMargin)
      .orderBy(col("stage"))

  /** p2 — the funnel with the NEAR-dup stage a real curation run adds
    * after exact dedup: among the stage-d survivors, drop every
    * non-canonical member of a transitive near-dup cluster (d6's
    * keep-lowest-id policy over d3's verified pairs, restricted to
    * survivors — pair membership is a per-pair property, so restricting
    * the corpus-wide pair set to survivor endpoints equals computing the
    * pairs on the survivor subset).
    *
    * The verified pairs are the [[Dedup.sharedVerifiedPairs]] pipeline
    * artifact (p2 is downstream of the dedup ladder in the same run, so
    * it consumes the materialized pairs rather than re-running
    * signatures/banding/verify; first use computes, keeping the entry
    * self-contained for Verify). The survivor-restricted connected
    * components then run on a pair set that is a small fraction of the
    * corpus — O(log² n) tiny rounds — and the funnel itself stays one
    * aggregated row stacked five ways. */
  def p2CurationFunnelNearDup(s: SparkSession, dir: String): DataFrame = {
    // the staged flags feed the survivor filter AND the final funnel
    // join; the [[sharedStagedFlags]] artifact is an eager checkpoint,
    // so both branches read the materialized copy. p1 deliberately does
    // NOT route through the artifact (upstream stages stay measured at
    // full pipeline cost, the d6/d7 convention), so p2 self-primes it on
    // first use — its benched steady state is the marginal near-dup
    // cost, the r10 plan-audit item
    val staged = sharedStagedFlags(s, dir)
    val surv = staged.filter(col("d_pass")).select(col("doc_id"))
    val pairsAmong = Dedup.sharedVerifiedPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
      .join(surv.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(surv.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    // converged star edges: (root, member) with root < member, so `v` IS
    // the non-canonical drop set (same property d7 uses)
    val drops = Dedup.connectedComponents(pairsAmong)
      .select(col("v").as("doc_id"), lit(1).as("nd"))
    val staged2 = staged.join(drops, Seq("doc_id"), "left")
      .withColumn("e_pass", col("d_pass") && col("nd").isNull)
    staged2
      .agg(
        count(lit(1)).as("n0"), sum(col("tok")).as("t0"),
        sum(when(col("q_pass"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("q_pass"), col("tok")).otherwise(0L)).as("t1"),
        sum(when(col("l_pass"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("l_pass"), col("tok")).otherwise(0L)).as("t2"),
        sum(when(col("d_pass"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("d_pass"), col("tok")).otherwise(0L)).as("t3"),
        sum(when(col("e_pass"), 1L).otherwise(0L)).as("n4"),
        sum(when(col("e_pass"), col("tok")).otherwise(0L)).as("t4"))
      .selectExpr(
        """stack(5,
          |  'a_ingest',  n0, t0,
          |  'b_quality', n1, t1,
          |  'c_langid',  n2, t2,
          |  'd_dedup',   n3, t3,
          |  'e_neardup', n4, t4) AS (stage, n_docs, n_tokens)""".stripMargin)
      .orderBy(col("stage"))
  }

  /** p3's corpus-statistic gates: the surprisal ceiling (mean quantized
    * bits per token — drops the improbable-token tail, ~1.5% of the
    * harness corpus at every SF) and the per-source quota among
    * survivors (t13's rationale). */
  private val P3MaxMeanBits = 4.2
  private val P3Quota = 15

  /** p3 — curation funnel v2: the round-10 operators composed as ONE
    * pipeline, the way a production curation run chains them:
    *
    *   a_ingest     every document
    *   b_quality    t2 quality ≥ 0.5 (same shared expression tree)
    *   c_surprisal  t12's corpus-statistic gate: mean quantized
    *                surprisal ≤ [[P3MaxMeanBits]] bits (the CCNet-style
    *                LM filter, applied after the cheap heuristic)
    *   d_quota      t13's per-source cap, ranked among c-survivors only
    *                (no quota slot wasted on a doc a later stage drops)
    *   e_segdedup   d8's segment dedup among d-survivors: stage TOKENS
    *                are the segment-kept mass — the one stage that
    *                shrinks tokens without necessarily dropping docs (a
    *                doc whose every segment duplicates disappears)
    *
    * Scale shape: the flag scan and the t12 vocab passes are the
    * documented two-pass corpus statistic; the quota is the same
    * running-count window trick as p1's dedup stage (rank among
    * survivors with NO join-back); the segment stage re-scans only to
    * segment the d-survivor subset (a left-semi join on doc_id before
    * any explode) — at 100 TB you segment the survivors, never the
    * corpus. Everything is integer arithmetic + two rounded divisions,
    * replayed end-to-end by the DuckDB oracle. */
  def p3CurationV2(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tok"),
        TextAnalysis.qualityExpr(col("text"), col("n_chars")).as("quality"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
      .withColumn("q_pass", col("quality") >= 0.5)
    // t12's two-pass corpus statistic (vocab materialized across its
    // bits + grand-total branches, as in t12 itself)
    val docTok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("n_dt"))
    val vocab = graft.Materialize.reuse(
      docTok.groupBy(col("tk")).agg(sum(col("n_dt")).as("freq")))
    val total = vocab.agg(sum(col("freq")).as("total"))
    val bits = vocab.crossJoin(broadcast(total))
      .select(col("tk"),
        (length(bin(expr("total div freq"))) - 1).cast("long").as("bits"))
    val mb = docTok.join(bits, Seq("tk"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("n_dt") * col("bits")).cast("double")
        / sum(col("n_dt")), 4).as("mean_bits"))
    val flagged = base.join(mb, Seq("doc_id"))
      .withColumn("s_pass",
        col("q_pass") && col("mean_bits") <= P3MaxMeanBits)
    // quota among c-survivors via the p1 running-count trick: u_pass =
    // s_pass && fewer than Quota prior s_pass docs in md5-of-id order
    val wPrev = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val quotaed = graft.Materialize.reuse(flagged.withColumn("u_pass",
      col("s_pass") && coalesce(
        sum(when(col("s_pass"), 1L).otherwise(0L)).over(wPrev),
        lit(0L)) < P3Quota))
    // d8's segment dedup restricted to the d-survivors
    val survivors = quotaed.filter(col("u_pass")).select(col("doc_id"))
    val ws = split(col("text"), " ")
    val W = Dedup.SegWords
    val nseg = expr(s"(size(ws) + ${W - 1}) div $W")
    val segs = Tables.documents(s, dir)
      .join(survivors, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), nseg - 1)).as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        md5(array_join(slice(col("ws"),
          (col("seg_idx") * W + 1).cast("int"), lit(W)), " ")
          .cast("binary")).as("sfp"),
        size(slice(col("ws"),
          (col("seg_idx") * W + 1).cast("int"), lit(W)))
          .cast("long").as("seg_tok"))
    val wSeg = Window.partitionBy(col("sfp"))
      .orderBy(col("doc_id"), col("seg_idx"))
    val kept = segs.withColumn("is_dup", row_number().over(wSeg) > 1)
      .groupBy(col("doc_id"))
      .agg(sum(when(col("is_dup"), 0L).otherwise(col("seg_tok")))
        .as("tok_kept"))
    quotaed.join(kept, Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n0"), sum(col("tok")).as("t0"),
        sum(when(col("q_pass"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("q_pass"), col("tok")).otherwise(0L)).as("t1"),
        sum(when(col("s_pass"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("s_pass"), col("tok")).otherwise(0L)).as("t2"),
        sum(when(col("u_pass"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("u_pass"), col("tok")).otherwise(0L)).as("t3"),
        sum(when(col("u_pass") && coalesce(col("tok_kept"), lit(0L)) > 0L,
          1L).otherwise(0L)).as("n4"),
        sum(when(col("u_pass"), coalesce(col("tok_kept"), lit(0L)))
          .otherwise(0L)).as("t4"))
      .selectExpr(
        """stack(5,
          |  'a_ingest',    n0, t0,
          |  'b_quality',   n1, t1,
          |  'c_surprisal', n2, t2,
          |  'd_quota',     n3, t3,
          |  'e_segdedup',  n4, t4) AS (stage, n_docs, n_tokens)""".stripMargin)
      .orderBy(col("stage"))
  }

  /** p4 — dedup-policy savings: what the surgical span excision (d11)
    * preserves versus d7's whole-document drops, on the same corpus —
    * the number that justifies running span removal at all (Lee et al.
    * 2022's headline comparison). Two rows, one per policy:
    * docs_affected, tok_removed, tok_kept (tok = whitespace words, the
    * t-series unit; the corpus total is the shared base line).
    * The doc-drop side is d7's keep-lowest policy over the near-dup
    * clusters; the span side is d11's merged-interval excisions —
    * different dup definitions by design (MinHash-verified whole-doc
    * similarity vs exact 13-gram runs): the comparison shows what each
    * POLICY costs in training tokens, not the same detector twice.
    *
    * Scale shape: pure composition — both inputs are pipeline-stage
    * artifacts ([[Dedup.sharedStarEdges]], [[Dedup.sharedDupSpans]] via
    * [[Dedup.d11Excisions]]), so p4 pays one corpus scan for token
    * counts plus two small-side joins/aggregates; first use computes
    * the ladders, keeping the entry self-contained under Verify. */
  def p4PolicySavings(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    val total = tok.agg(sum(col("tok")).as("t_all"))
    val dd = tok
      .join(Dedup.sharedStarEdges(s, dir).select(col("v").as("doc_id"))
        .distinct(), "doc_id")
      .agg(count(lit(1)).as("docs"),
        coalesce(sum(col("tok")), lit(0L)).as("removed"))
    val sp = Dedup.d11Excisions(s, dir)
      .agg(count(lit(1)).as("docs"),
        coalesce(sum(col("words_removed")), lit(0L)).as("removed"))
    dd.select(lit("a_drop_whole_docs").as("policy"),
        col("docs"), col("removed"))
      .unionByName(sp.select(lit("b_excise_spans").as("policy"),
        col("docs"), col("removed")))
      .crossJoin(broadcast(total))
      .select(col("policy"), col("docs").as("docs_affected"),
        col("removed").as("tok_removed"),
        (col("t_all") - col("removed")).as("tok_kept"))
      .orderBy(col("policy"))
  }

  /** p5 — the funnel with SEMANTIC dedup as its final stage: quality →
    * langid → exact dedup → SemDeDup among survivors, the deployment
    * position of Abbas et al. 2023 (semantic dedup runs LAST, on the
    * corpus the cheap stages already cleaned — every earlier drop is a
    * vector the quadratic stage never compares). A survivor drops if ANY
    * lower-id surviving vector in its s2 cell sits at cosine ≥
    * [[Dedup.D13Threshold]] — d13's greedy keep-first rule restricted to
    * survivors (restriction is sound for the DROP-SET: pair membership is
    * a per-pair property, the p2 argument).
    *
    * Scale shape: the staged flags and the cell assignment are BOTH
    * pipeline-stage artifacts ([[sharedStagedFlags]], the p1 scan;
    * [[Similarity.sharedCells]], the s2 IVF index) — p5's own work is
    * the survivor-restricted within-cell pair filter, Σ|cell∩surv|²
    * with the cell id as the blocking/partition key, plus one funnel
    * aggregate. First use computes both artifacts, so the entry stays
    * self-contained under Verify; its benched steady state is the
    * marginal semantic stage, the d7/p2 convention. */
  def p5SemanticCuration(s: SparkSession, dir: String): DataFrame = {
    val staged = sharedStagedFlags(s, dir)
    staged.join(semanticDrops(s, dir), Seq("doc_id"), "left")
      .withColumn("f_pass", col("d_pass") && col("sd").isNull)
      .agg(
        count(lit(1)).as("n0"), sum(col("tok")).as("t0"),
        sum(when(col("q_pass"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("q_pass"), col("tok")).otherwise(0L)).as("t1"),
        sum(when(col("l_pass"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("l_pass"), col("tok")).otherwise(0L)).as("t2"),
        sum(when(col("d_pass"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("d_pass"), col("tok")).otherwise(0L)).as("t3"),
        sum(when(col("f_pass"), 1L).otherwise(0L)).as("n4"),
        sum(when(col("f_pass"), col("tok")).otherwise(0L)).as("t4"))
      .selectExpr(
        """stack(5,
          |  'a_ingest',   n0, t0,
          |  'b_quality',  n1, t1,
          |  'c_langid',   n2, t2,
          |  'd_dedup',    n3, t3,
          |  'e_semantic', n4, t4) AS (stage, n_docs, n_tokens)""".stripMargin)
      .orderBy(col("stage"))
  }

  /** The semantic-drop set among stage-d survivors — d13's pair stage
    * ([[Dedup.d13Core]]) over [[semanticCells]], with the tier's sub-cell
    * cap, as a (doc_id, sd=1) marker frame: the dropped vec_ids, one row
    * each. Shared by p5 and p6. */
  private def semanticDrops(s: SparkSession, dir: String): DataFrame =
    Dedup.d13Core(semanticCells(s, dir), s.sparkContext.defaultParallelism,
        Dedup.subCapFor(Dedup.resolveAssignVia(s, dir)))
      .select(col("vec_id").as("doc_id"), lit(1).as("sd"))

  /** The shared s2 cell artifact restricted to the stage-d survivors:
    * the `cells` frame p5/p6's semantic stage runs d13's rule over. */
  private[graft] def semanticCells(s: SparkSession, dir: String): DataFrame = {
    val surv = sharedStagedFlags(s, dir).filter(col("d_pass"))
      .select(col("doc_id").as("vec_id"))
    Similarity.sharedCells(s, dir).join(surv, "vec_id")
  }

  /** p6 — the FULL pretraining-data pipeline as one query, the capstone
    * composition: every curation family this library ships, chained in
    * production order with exact token accounting at each stage:
    *
    *   a_ingest    every document
    *   b_quality   t2 quality ≥ 0.5
    *   c_langid    t3 supported language
    *   d_dedup     d1 exact dedup among survivors
    *   e_semantic  d13's SemDeDup rule among survivors (p5's stage)
    *   f_excise    d11's duplicated-span excision applied to survivors —
    *               the one stage that removes TOKENS without dropping
    *               docs (tokens = Σ(tok − words_removed))
    *   g_mixture   t15's per-source token-budget mixture realized over
    *               the EXCISED token masses (the budget buys cleaned
    *               tokens, not raw ones) — integer threshold arithmetic,
    *               same 16-bit id-hash draw
    *
    * Everything upstream of the funnel aggregate is a pipeline-stage
    * artifact or a shared expression tree: p1's staged flags, the s2
    * cell index, d10/d11's span ladder (SharedStage), t15's weight CASE
    * — p6 adds two broadcast joins, one 2-column corpus scan (source
    * lookup), and the mixture plan over per-source aggregates. The
    * whole chain is replayed end-to-end by the DuckDB oracle. */
  def p6PretrainPipeline(s: SparkSession, dir: String): DataFrame = {
    val staged = sharedStagedFlags(s, dir)
    val exc = Dedup.d11Excisions(s, dir)
      .select(col("doc_id"), col("words_removed"))
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val base = staged
      .join(semanticDrops(s, dir), Seq("doc_id"), "left")
      .withColumn("f_pass", col("d_pass") && col("sd").isNull)
      .join(exc, Seq("doc_id"), "left")
      .withColumn("tok2", col("tok") - coalesce(col("words_removed"), lit(0L)))
      .join(src, "doc_id")
      .withColumn("u4",
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4))
    val avail = base.filter(col("f_pass")).groupBy(col("source"))
      .agg(sum(col("tok2")).as("avail_tok"))
    val total = avail.agg(sum(col("avail_tok")).as("total_tok"))
    val plan = avail.crossJoin(broadcast(total))
      .withColumn("target_tok",
        floor(TextAnalysis.t15WeightExpr *
          expr(s"total_tok div ${TextAnalysis.t15BudgetDen}").cast("double"))
          .cast("long"))
      .withColumn("th",
        when(col("avail_tok") <= col("target_tok"), lit(65536L))
          .otherwise(expr("(target_tok * 65536) div avail_tok")))
      .withColumn("th_hex",
        lpad(lower(hex(least(col("th"), lit(65535L)))), 4, "0"))
      .select(col("source"), col("th"), col("th_hex"))
    base.join(broadcast(plan), Seq("source"), "left")
      .withColumn("g_pass", col("f_pass") &&
        (col("th") === 65536L || col("u4") < col("th_hex")))
      .agg(
        count(lit(1)).as("n0"), sum(col("tok")).as("t0"),
        sum(when(col("q_pass"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("q_pass"), col("tok")).otherwise(0L)).as("t1"),
        sum(when(col("l_pass"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("l_pass"), col("tok")).otherwise(0L)).as("t2"),
        sum(when(col("d_pass"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("d_pass"), col("tok")).otherwise(0L)).as("t3"),
        sum(when(col("f_pass"), 1L).otherwise(0L)).as("n4"),
        sum(when(col("f_pass"), col("tok")).otherwise(0L)).as("t4"),
        sum(when(col("f_pass"), col("tok2")).otherwise(0L)).as("t5"),
        sum(when(col("g_pass"), 1L).otherwise(0L)).as("n6"),
        sum(when(col("g_pass"), col("tok2")).otherwise(0L)).as("t6"))
      .selectExpr(
        """stack(7,
          |  'a_ingest',   n0, t0,
          |  'b_quality',  n1, t1,
          |  'c_langid',   n2, t2,
          |  'd_dedup',    n3, t3,
          |  'e_semantic', n4, t4,
          |  'f_excise',   n4, t5,
          |  'g_mixture',  n6, t6) AS (stage, n_docs, n_tokens)""".stripMargin)
      .orderBy(col("stage"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_curation_funnel" -> p1CurationFunnel _,
    "p2_funnel_neardup"  -> p2CurationFunnelNearDup _,
    "p3_curation_v2"     -> p3CurationV2 _,
    "p4_policy_savings"  -> p4PolicySavings _,
    "p5_semantic_curation" -> p5SemanticCuration _,
    "p6_pretrain_pipeline" -> p6PretrainPipeline _,
  )

  /** The per-doc staged-flag CTE chain (d → f → g → h) shared by the p1
    * and p2 oracles: the t2/t3 quality and langid expressions
    * ([[TextAnalysis.qualitySql]], [[TextAnalysis.langHitsSql]],
    * [[TextAnalysis.langPredictSql]]) and the same running-count dedup
    * window. */
  private val funnelCtes: String =
      s"""d AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |         ${TextAnalysis.qualityInputsSql},
        |         ${TextAnalysis.langHitsSql},
        |         md5(text) AS fp
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, tok, fp,
        |         ${TextAnalysis.qualitySql} >= 0.5
        |           AS q_pass,
        |         ${TextAnalysis.langPredictSql}
        |  FROM d
        |), g AS (
        |  SELECT doc_id, tok, fp, q_pass,
        |         q_pass AND predicted IN ('en','de','fr','es') AS l_pass
        |  FROM f
        |), h AS (
        |  SELECT *,
        |         l_pass AND coalesce(
        |           CAST(sum(CASE WHEN l_pass THEN 1 ELSE 0 END)
        |             OVER (PARTITION BY fp ORDER BY doc_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |             AS BIGINT), 0) = 0 AS d_pass
        |  FROM g
        |)""".stripMargin

  /** The b–d stages of [[funnelCtes]]: (stage, pass flag, token column). */
  private val funnelStages: Seq[(String, String, String)] = Seq(
    ("b_quality", "q_pass", "tok"), ("c_langid", "l_pass", "tok"),
    ("d_dedup", "d_pass", "tok"))

  /** A funnel's report over the per-doc flag rows of `from`: the
    * 'a_ingest' row counts every doc and sums `tok`, each (stage, flag,
    * tok) row counts the docs passing `flag` and sums their `tok`
    * column, and `extra` rows follow verbatim; ordered by stage. Used by
    * p1, p2, p3, p5 and p6. */
  private def stageRowsSql(from: String, stages: Seq[(String, String, String)],
      extra: String*): String = {
    val ingest =
      s"""SELECT 'a_ingest' AS stage, count(*) AS n_docs,
         |         CAST(sum(tok) AS BIGINT) AS n_tokens FROM $from""".stripMargin
    val rows = stages.map { case (stage, flag, tok) =>
      s"""SELECT '$stage', count(*) FILTER ($flag),
         |         CAST(coalesce(sum($tok) FILTER ($flag), 0) AS BIGINT) FROM $from""".stripMargin
    }
    ((ingest +: rows) ++ extra)
      .mkString("SELECT * FROM (\n  ", "\n  UNION ALL\n  ", "\n) ORDER BY stage")
  }

  /** The funnels replayed in DuckDB: [[funnelCtes]] for the staged flags,
    * a UNION ALL in place of stack; p2 adds the brute-force near-dup
    * pair set ([[Dedup.d3PairsSqlCtes]]) restricted to stage-d
    * survivors, closed transitively by the same recursive CTE the d6
    * oracle uses, with cluster id = min reachable label ≡ the engine's
    * star root. */
  val oracleSql: Map[String, String] = Map(
    // p4: both dup ladders replayed whole — the d6/d7 recursive
    // component closure over the brute-force pair set for the doc-drop
    // side, the d10 string-shingle span CTEs + the d11 interval merge
    // for the span side — then the two policies' removal masses against
    // the same corpus token total.
    "p4_policy_savings" ->
      s"""WITH RECURSIVE ${Dedup.d3PairsSqlCtes},
         |${Dedup.componentCtes("pairs")},
         |drops AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id),
         |${Dedup.d10SpansSqlCtes},
         |${Dedup.d11MergeSqlCtes}, tokd AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         |  FROM documents
         |), tot AS (SELECT CAST(sum(tok) AS BIGINT) AS t_all FROM tokd),
         |pol AS (
         |  SELECT 'a_drop_whole_docs' AS policy,
         |         count(*) AS docs_affected,
         |         CAST(coalesce(sum(t.tok), 0) AS BIGINT) AS tok_removed
         |  FROM drops d JOIN tokd t USING (doc_id)
         |  UNION ALL
         |  SELECT 'b_excise_spans', count(*),
         |         CAST(coalesce(sum(words_removed), 0) AS BIGINT)
         |  FROM perdoc
         |)
         |SELECT policy, docs_affected, tok_removed,
         |       (SELECT t_all FROM tot) - tok_removed AS tok_kept
         |FROM pol ORDER BY policy""".stripMargin,
    // p6: the whole pipeline replayed — staged chain, cells + sub-split
    // + survivor-restricted semantic drops, the d10/d11 span ladder's
    // perdoc excisions, and t15's integer mixture plan over the excised
    // token masses
    "p6_pretrain_pipeline" -> {
      val wCase = TextAnalysis.t15WeightSql
      s"""WITH $funnelCtes,
        |${Similarity.sharedOracleCtes},
        |${Similarity.cellsOracleCtes},
        |sc AS (
        |  SELECT c.vec_id, c.embedding, c.nrm, c.cell
        |  FROM cells c JOIN h ON h.doc_id = c.vec_id AND h.d_pass
        |),
        |${Similarity.boundedSubCtes("sc", "bsc")},
        |sdrop AS (
        |  SELECT DISTINCT b.vec_id AS doc_id
        |  ${Dedup.d13PairsSql("bsc")}
        |),
        |${Dedup.d10SpansSqlCtes},
        |${Dedup.d11MergeSqlCtes},
        |base AS (
        |  SELECT h.*, doc.source,
        |         h.d_pass AND sdrop.doc_id IS NULL AS f_pass,
        |         h.tok - coalesce(p.words_removed, 0) AS tok2,
        |         substr(md5(CAST(h.doc_id AS VARCHAR)), 1, 4) AS u4
        |  FROM h
        |  JOIN documents doc USING (doc_id)
        |  LEFT JOIN sdrop USING (doc_id)
        |  LEFT JOIN perdoc p USING (doc_id)
        |),
        |mavail AS (
        |  SELECT source, CAST(sum(tok2) AS BIGINT) AS avail_tok
        |  FROM base WHERE f_pass GROUP BY 1
        |),
        |mtot AS (
        |  SELECT CAST(sum(avail_tok) AS BIGINT) AS total_tok FROM mavail
        |),
        |mplan AS (
        |  SELECT source, avail_tok,
        |         CAST(floor(($wCase)
        |           * CAST(total_tok // ${TextAnalysis.t15BudgetDen} AS DOUBLE))
        |           AS BIGINT) AS target_tok
        |  FROM mavail, mtot
        |),
        |mplan2 AS (
        |  SELECT *,
        |         CASE WHEN avail_tok <= target_tok THEN 65536
        |              ELSE (target_tok * 65536) // avail_tok END AS th
        |  FROM mplan
        |),
        |mplan3 AS (
        |  SELECT source, th,
        |         lpad(lower(hex(least(th, 65535))), 4, '0') AS th_hex
        |  FROM mplan2
        |),
        |scored AS (
        |  SELECT b.*,
        |         b.f_pass AND (m.th = 65536 OR b.u4 < m.th_hex) AS g_pass
        |  FROM base b LEFT JOIN mplan3 m USING (source)
        |)
        |${stageRowsSql("scored", funnelStages ++ Seq(
              ("e_semantic", "f_pass", "tok"), ("f_excise", "f_pass", "tok2"),
              ("g_mixture", "g_pass", "tok2")))}""".stripMargin
    },
    // p5: the staged-flag chain + the s2 cell CTEs (organic corpus),
    // survivor-restricted within-cell threshold pairs as the drop set,
    // then the 5-stage funnel — the whole pipeline replayed
    "p5_semantic_curation" ->
      s"""WITH $funnelCtes,
        |${Similarity.sharedOracleCtes},
        |${Similarity.cellsOracleCtes},
        |sc AS (  -- cells restricted to stage-d survivors
        |  SELECT c.vec_id, c.embedding, c.nrm, c.cell
        |  FROM cells c JOIN h ON h.doc_id = c.vec_id AND h.d_pass
        |),
        |${Similarity.boundedSubCtes("sc", "bsc")},
        |sdrop AS (  -- any qualifying lower-id surviving neighbor => drop
        |  SELECT DISTINCT b.vec_id AS doc_id
        |  ${Dedup.d13PairsSql("bsc")}
        |),
        |h3 AS (
        |  SELECT h.*, h.d_pass AND sdrop.doc_id IS NULL AS f_pass
        |  FROM h LEFT JOIN sdrop USING (doc_id)
        |)
        |${stageRowsSql("h3", funnelStages :+ (("e_semantic", "f_pass", "tok")))}""".stripMargin,
    "p1_curation_funnel" ->
      s"""WITH $funnelCtes
        |${stageRowsSql("h", funnelStages)}""".stripMargin,
    "p2_funnel_neardup" ->
      s"""WITH RECURSIVE ${Dedup.d3PairsSqlCtes},
        |$funnelCtes,
        |sp AS (  -- verified pairs restricted to stage-d survivors
        |  SELECT p.doc_a, p.doc_b FROM pairs p
        |  JOIN h a ON a.doc_id = p.doc_a AND a.d_pass
        |  JOIN h b ON b.doc_id = p.doc_b AND b.d_pass
        |),
        |${Dedup.componentCtes("sp")},
        |nd AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id),
        |h2 AS (
        |  SELECT h.*, h.d_pass AND nd.doc_id IS NULL AS e_pass
        |  FROM h LEFT JOIN nd USING (doc_id)
        |)
        |${stageRowsSql("h2", funnelStages :+ (("e_neardup", "e_pass", "tok")))}""".stripMargin,
    // funnel v2 end-to-end: t2 quality tree, t12 surprisal replay, t13
    // quota as the same prior-survivor running-count window, d8 segment
    // dedup among survivors
    "p3_curation_v2" -> {
      // the segment stage counts the docs that keep a segment
      val segRow =
        """SELECT 'e_segdedup', count(*) FILTER (u_pass AND tok_kept > 0),
          |         CAST(coalesce(sum(tok_kept) FILTER (u_pass), 0) AS BIGINT)
          |         FROM w""".stripMargin
      s"""WITH q AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         |         0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0)
         |           + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
         |                          / CAST(n_chars AS DOUBLE))
         |           + 0.2 * least((CAST(len(list_filter(string_split(text, ' '),
         |                 w -> w IN ('the','a','of','to','in','and'))) AS DOUBLE)
         |               / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 5.0, 1.0)
         |           >= 0.5 AS q_pass,
         |         md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents
         |), dt AS (
         |  SELECT doc_id, tk, count(*) AS n_dt
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
         |        FROM documents)
         |  GROUP BY doc_id, tk
         |), vocab AS (
         |  SELECT tk, CAST(sum(n_dt) AS BIGINT) AS freq FROM dt GROUP BY tk
         |), sc AS (
         |  SELECT tk, CAST(length(bin((SELECT sum(freq) FROM vocab) // freq)) - 1
         |              AS BIGINT) AS bits
         |  FROM vocab
         |), mb AS (
         |  SELECT dt.doc_id,
         |         round(CAST(sum(dt.n_dt * sc.bits) AS DOUBLE)
         |               / sum(dt.n_dt), 4) AS mean_bits
         |  FROM dt JOIN sc USING (tk) GROUP BY dt.doc_id
         |), fl AS (
         |  SELECT q.*, q.q_pass AND mb.mean_bits <= $P3MaxMeanBits AS s_pass
         |  FROM q JOIN mb USING (doc_id)
         |), u AS (
         |  SELECT *,
         |         s_pass AND coalesce(
         |           CAST(sum(CASE WHEN s_pass THEN 1 ELSE 0 END)
         |             OVER (PARTITION BY source ORDER BY h, doc_id
         |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |             AS BIGINT), 0) < $P3Quota AS u_pass
         |  FROM fl
         |), segs AS (
         |  SELECT d.doc_id, i AS seg_idx,
         |         md5(array_to_string(
         |           list_slice(ws, i * ${Dedup.SegWords} + 1,
         |                      i * ${Dedup.SegWords} + ${Dedup.SegWords}),
         |           ' ')) AS sfp,
         |         len(list_slice(ws, i * ${Dedup.SegWords} + 1,
         |                        i * ${Dedup.SegWords} + ${Dedup.SegWords}))
         |           AS seg_tok
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |        FROM documents
         |        WHERE doc_id IN (SELECT doc_id FROM u WHERE u_pass)) d,
         |       unnest(range((len(ws) + ${Dedup.SegWords - 1})
         |                    // ${Dedup.SegWords})) AS t(i)
         |), kept AS (
         |  SELECT doc_id,
         |         CAST(sum(CASE WHEN rn > 1 THEN 0 ELSE seg_tok END) AS BIGINT)
         |           AS tok_kept
         |  FROM (SELECT doc_id, seg_tok,
         |               row_number() OVER (
         |                 PARTITION BY sfp ORDER BY doc_id, seg_idx) AS rn
         |        FROM segs)
         |  GROUP BY doc_id
         |), w AS (
         |  SELECT u.*, coalesce(k.tok_kept, 0) AS tok_kept
         |  FROM u LEFT JOIN kept k USING (doc_id)
         |)
         |${stageRowsSql("w", Seq(("b_quality", "q_pass", "tok"),
              ("c_surprisal", "s_pass", "tok"), ("d_quota", "u_pass", "tok")),
              segRow)}""".stripMargin
    },
  )
}
