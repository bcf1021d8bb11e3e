package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Readers for the harness-generated TPC-H-ish parquet tables (see repo
  * TESTDATA.md): `region nation customer supplier part orders lineitem
  * events documents embeddings`, one parquet file per table under a
  * scale-factor directory.
  *
  * Design notes for scale (100 TB north-star):
  *   - Readers return lazy DataFrames; column pruning + predicate pushdown
  *     reach the parquet scan because nothing is materialized here.
  *   - `dim()` wraps the small dimension tables so call-sites can decide to
  *     broadcast them explicitly (region/nation/supplier/part/customer are
  *     all tiny relative to the fact tables at any SF).
  */
object Tables {
  val factNames = Seq("lineitem", "orders", "events", "documents", "embeddings")
  val dimNames  = Seq("region", "nation", "customer", "supplier", "part")
  val allNames: Seq[String] = dimNames ++ factNames

  /** Lazy scan frames memoized per (session, file): `spark.read.parquet`
    * re-lists the directory and re-reads the footer schema on EVERY call
    * — measured at ~0.1 s of driver-side `ResolveDataSource` time per
    * table per query build (ProfileQuery, r21), paid by every timed
    * bench run of every query (some build the same scan 3×). The memo
    * holds the resolved LAZY DataFrame only — no rows, no cache(): every
    * action still scans the parquet — so this is plan-metadata reuse
    * (what any long-lived Spark app gets from its catalog), not result
    * caching. Keyed on the session so Verify/tests with their own
    * sessions never share state; static harness inputs make staleness a
    * non-issue — and the key still carries the file's (mtime, length) so
    * a path REGENERATED in the same JVM (ScaleGen-style flows) gets a
    * fresh FileIndex instead of a stale file list (the SharedStage memo
    * convention; the stat is one syscall per call, ~µs). */
  private val scans = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long, Long), DataFrame]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val f = new java.io.File(path)
    scans.computeIfAbsent((spark, path, f.lastModified(), f.length()),
      k => k._1.read.parquet(k._2))
  }

  def lineitem(s: SparkSession, dir: String): DataFrame   = apply(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame     = apply(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame   = apply(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame   = apply(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame       = apply(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame     = apply(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame     = apply(s, dir, "region")
  /** The events parquet carries TIMESTAMP(NANOS), which Spark's parquet
    * reader rejects unless `spark.sql.legacy.parquet.nanosAsLong=true`.
    * That conf is session-global, so it belongs in the session builders
    * (BenchSupport.session, Verify, SparkSpec) — NOT mutated here as a
    * reader side effect. Cast/derive downstream; see
    * graft.queries.EventQueries for the micros contract with DuckDB. */
  def events(s: SparkSession, dir: String): DataFrame = apply(s, dir, "events")

  /** Epoch-microsecond expression for an events frame's `ts`, tolerant of
    * every physical schema the harness and [[graft.ScaleGen]] have
    * shipped for that column:
    *   - raw Long nanos (TIMESTAMP(NANOS) parquet under `nanosAsLong`,
    *     and ScaleGen's synthetic long column) → `ts div 1000`;
    *   - TIMESTAMP_NTZ (TIMESTAMP(MICROS) parquet, the 2026-08 testdata
    *     regeneration) → `unix_micros` after an NTZ→TZ cast, exact
    *     because every session builder pins spark.sql.session.timeZone
    *     to UTC (the DuckDB oracles' `epoch_us(ts)` reads the same naive
    *     instant);
    *   - TIMESTAMP → `unix_micros` directly.
    * Deriving per-schema HERE keeps every downstream operator on the one
    * repo-wide integer-micros contract (see graft.queries.EventQueries). */
  def eventsTsUs(df: DataFrame): Column = {
    // Columns are anchored to `df` so applying the helper after a join
    // with another ts column resolves against the intended relation.
    df.schema("ts").dataType match {
      case LongType        => call_function("div", df("ts"), lit(1000L))
      case TimestampNTZType =>
        // The NTZ→TZ cast is exact ONLY under a UTC session timezone; an
        // entry point that forgot the builder's pin would silently shift
        // every derived micro. Fail loudly instead (ADVICE r12) — but only
        // on THIS branch: the Long and TimestampType paths are
        // timezone-independent and must keep working in non-UTC sessions
        // (ADVICE r13).
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"eventsTsUs requires spark.sql.session.timeZone=UTC (got '$tz') " +
            "for TIMESTAMP_NTZ events; the NTZ cast and the DuckDB " +
            "oracle's epoch_us agree only under UTC")
        unix_micros(df("ts").cast(TimestampType))
      case TimestampType   => unix_micros(df("ts"))
      case other => sys.error(
        s"events.ts has unsupported type ${other.sql}; expected raw long " +
          "nanos, timestamp_ntz or timestamp")
    }
  }

  /** The one seam every batch events consumer reads through: the raw
    * table plus the repo-wide `ts_us` integer-micros column, so a harness
    * schema flip (nanos→micros was r12's surprise) breaks this function,
    * not every events query (VERDICT r13 #8). */
  def eventsWithTsUs(s: SparkSession, dir: String): DataFrame = {
    val raw = events(s, dir)
    raw.withColumn("ts_us", eventsTsUs(raw))
  }
  def documents(s: SparkSession, dir: String): DataFrame  = apply(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = apply(s, dir, "embeddings")

  /** Register every table as a temp view (the sqldf/`createOrReplaceTempView`
    * analogue from SURVEY.md §1.4) so `spark.sql` front-ends see the same
    * catalog DuckDB sees. */
  def registerAll(s: SparkSession, dir: String): Unit =
    allNames.foreach(n => apply(s, dir, n).createOrReplaceTempView(n))
}
