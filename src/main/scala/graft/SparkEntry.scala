package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Analytics, Dedup, EventQueries, Multimodal, Pipeline, RelationalQueries, Similarity, StreamingCatalog, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator family's named query;
  * `oracleSql` carries the DuckDB-equivalent SQL for the driver's
  * differential check (the sqldf-oracle methodology of the reference,
  * RDataFramesSQL.Rmd:42-54, ported to DuckDB per SURVEY.md §5).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q1ArgmaxPerYear(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * training-data pipeline extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ TextAnalysis.queries ++ Dedup.queries ++
      Similarity.queries ++ Multimodal.queries ++ EventQueries.queries ++
      Analytics.queries ++ Pipeline.queries ++ StreamingCatalog.queries

  /** Queries [[Bench]] skips: correctness slices whose dominant cost is
    * a pipeline the bench already times once — x3b (x3 plus a boolean
    * column), m2b (m2 minus two columns), and d4b (the full d4
    * simhashCandidates pipeline re-run against its md5 ground truth;
    * the pipeline's cost is d4_simhash's number, the rest is the
    * differential harness). Timing them would charge the same operator
    * twice and pad the total with duplicate numbers. t5b stays benched:
    * its invariant recheck is its own single pass. d7 is benched since
    * r10 at its MARGINAL cost — it consumes the shared star-edge
    * artifact d6's pipeline produces ([[graft.SharedStage]]) instead of
    * re-running it; likewise p2 reuses d3's verified pairs on top of
    * p1's funnel. st3 is excluded for the d4b reason: it exists to
    * differential-check the Bloom screen against the exact t8-shaped
    * join, so timing it would mostly re-charge t8's pipeline; the
    * screen's own cost is st-series' probe over one scan. */
  val benchExclude: Set[String] =
    Set("x3_approx_distinct_bounded", "m2_decode_dims", "d4_simhash_exactdup",
      "st3_contamination_bounds",
      // s11b runs BOTH mining tiers (its point is the agreement
      // differential), so timing it would re-charge s11's exact matrix;
      // the blocked tier's own cost is measured via the
      // SPARK_GRAFT_S11_VIA=ivf ScaleBench row instead
      "s11b_bitext_blocked",
      // s16 is the threshold-sweep differential over the same two tiers
      // (exact + blocked margin cores run once, then a 4-way explode) —
      // benching it would triple-charge s11's pipelines for what is one
      // aggregation of arithmetic on top of them
      "s16_margin_sweep",
      // s14 is the flat-construction gate fixture: its knobs are pinned
      // TIGHT (cell target 4 -> a k=N/4 codebook) so the adaptive math
      // binds at harness SF, and it carries an exact-argmax reference
      // column over that deliberately oversized codebook — N*(N/4)
      // cosines that exist only for the oracle differential. The
      // production flat tier's cost is the assignVia=lshflat ScaleBench
      // rows (measurements/scale/SCALE_1000X_D13FLAT.json)
      "s14_flat_assign")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++ TextAnalysis.oracleSql ++ Dedup.oracleSql ++
      Similarity.oracleSql ++ Multimodal.oracleSql ++ EventQueries.oracleSql ++
      Analytics.oracleSql ++ Pipeline.oracleSql ++ StreamingCatalog.oracleSql
}
