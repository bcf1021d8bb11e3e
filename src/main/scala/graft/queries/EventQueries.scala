package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Event-stream analytics over the harness `events` table (event_id, ts
  * [nanosecond parquet timestamps], user_id, event_type, value, props) —
  * the window-function / sessionization surface the reference never
  * needed (SURVEY.md §2.7 notes windows appear only as per-group top-1)
  * but any behavioral pipeline does.
  *
  * Timestamp contract: the parquet files carry TIMESTAMP(NANOS), which
  * Spark only reads as raw Long nanos (`spark.sql.legacy.parquet
  * .nanosAsLong`, set by the session builders — BenchSupport, Verify,
  * and the test harness's SparkSpec) while DuckDB
  * truncates to microsecond timestamps. Both engines therefore operate on
  * `ts_us = ns DIV 1000` (integral division — going through a double
  * would lose precision at 1e18 nanos), and every derived duration stays
  * in exact integer microseconds until a single final division.
  *
  * Scale notes: all windows partition by `user_id` (the natural shuffle
  * key; no global ordering anywhere), aggregations are exact-integer so
  * results are partitioning-order-independent, and e2 bounds its output
  * by filtering users BEFORE the window (pushed to the scan).
  */
object EventQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.eventsWithTsUs(s, dir)

  private val byUserTime = Window.partitionBy(col("user_id"))
    .orderBy(col("ts_us").asc, col("event_id").asc)

  /** e1 — per-user journey stats via lag + min_by/max_by: event count,
    * first/last event type, mean/max inter-event gap. Gaps are summed as
    * exact integer micros; the only float op is one final division. */
  def e1UserJourney(s: SparkSession, dir: String): DataFrame = {
    // min_by/max_by need a TOTALLY ordered key or ties pick an arbitrary
    // row (partition-order dependent, and DuckDB's arg_min would pick its
    // own): fixed-width zero-padded (ts_us, event_id) string is totally
    // ordered and identical in both engines
    val tsKey = concat(
      lpad(col("ts_us").cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 10, "0"))
    events(s, dir)
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUserTime))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min_by(col("event_type"), tsKey).as("first_type"),
        max_by(col("event_type"), tsKey).as("last_type"),
        sum(col("gap_us")).as("gap_sum_us"),
        count(col("gap_us")).as("gap_cnt"),
        max(col("gap_us")).as("max_gap_us"))
      .select(
        col("user_id"), col("n_events"), col("first_type"), col("last_type"),
        round(col("gap_sum_us").cast("double") / col("gap_cnt") / 1e6, 3)
          .as("avg_gap_s"),
        round(col("max_gap_us").cast("double") / 1e6, 3).as("max_gap_s"))
      .orderBy(col("user_id"))
  }

  /** e2 — rolling row-frame aggregation: sum of the current + 3 previous
    * event values per user. `value` is money-shaped (2 decimals), so the
    * rolling sum runs in exact integer cents and divides once at the end
    * — immune to float association order across engines. Output bounded
    * to users 0-4 (filter sits on the scan, before the window). */
  def e2RollingValue(s: SparkSession, dir: String): DataFrame = {
    val frame = byUserTime.rowsBetween(-3, 0)
    events(s, dir)
      .filter(col("user_id") < 5)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("roll_cents", sum(col("cents")).over(frame))
      .select(
        col("user_id"), col("event_id"), col("ts_us"), col("value"),
        (col("roll_cents").cast("double") / 100.0).as("rolling_sum"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** e3 — gap-based sessionization (the canonical lag + cumulative-sum
    * pattern): a new session starts after a 30-minute silence; sessions
    * are then summarized. Everything is exact integer arithmetic. */
  def e3Sessionize(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val newSession =
      when(lag(col("ts_us"), 1).over(byUserTime).isNull, 1)
        .when(col("ts_us") - lag(col("ts_us"), 1).over(byUserTime) > gapUs, 1)
        .otherwise(0)
    events(s, dir)
      .withColumn("is_new", newSession)
      .withColumn("session_idx",
        sum(col("is_new")).over(byUserTime.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .withColumn("duration_s", expr("(end_us - start_us) div 1000000"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_us"), col("end_us"), col("duration_s"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** e4 — hour-of-day × event-type mix with within-hour shares: grouped
    * count + a partitioned-window total; one exact int division for the
    * share. */
  def e4HourlyMix(s: SparkSession, dir: String): DataFrame = {
    val wHour = Window.partitionBy(col("hour"))
    events(s, dir)
      .withColumn("hour", hour(timestamp_micros(col("ts_us"))))
      .groupBy(col("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hour_share",
        round(col("n").cast("double") / sum(col("n")).over(wHour), 4))
      .orderBy(col("hour"), col("event_type"))
  }

  /** e5 — semi-structured extraction: the `props` column is a JSON string
    * (as event payloads usually are); parse out the `k` field and
    * aggregate it per event type. `get_json_object` is codegen'd and
    * scan-local — at scale the JSON parse happens once per row in the map
    * stage, nothing shuffles but the (type, aggregates) partials. */
  def e5JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
      .orderBy(col("event_type"))

  /** e6 — as-of join, an operator Spark lacks natively, built per the
    * custom-op ladder's FIRST rung (SURVEY §7: compose built-ins before
    * reaching for a custom SparkPlan): each purchase is joined to the
    * user's most recent error at-or-before it. The composition is the
    * classic union + window carry-forward — tag both streams, union,
    * sort per user by time, propagate the last error's fields with
    * `last(_, ignoreNulls)`, keep the purchases. ONE shuffle on user_id;
    * the naive alternative (range join + per-row argmax) is quadratic in
    * events-per-user. DuckDB's native ASOF JOIN is the oracle. */
  def e6AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).filter(col("user_id") < 30) // bound the output
    // explicit boolean tag (NOT a null-sentinel on event_id — a genuine
    // row with a NULL id would silently change sides)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        lit(null).cast("long").as("err_ts_us"), lit(true).as("is_purchase"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("ts_us").as("err_ts_us"), lit(false).as("is_purchase"))
    val w = Window.partitionBy(col("user_id"))
      // errors (false) sort before a purchase at the same instant (can't
      // occur — (user, ts_us) is unique — but pins the inclusive >=)
      .orderBy(col("ts_us").asc, col("is_purchase").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    purchases.unionByName(errors)
      .withColumn("last_err_us", last(col("err_ts_us"), ignoreNulls = true).over(w))
      .filter(col("is_purchase"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("last_err_us"),
        expr("(ts_us - last_err_us) div 1000000").as("since_err_s"))
      .orderBy(col("user_id"), col("ts_us"))
  }

  /** 10-minute bucket width in micros for e7's banded range join. */
  private val E7BucketUs = 600000000L

  /** e7 — point-in-interval range join, banded. Derives the 12 busiest
    * 10-minute buckets ("incident windows", widened ±5 min), then joins
    * every event into its containing windows and profiles each window
    * (event count, distinct users, distinct types).
    *
    * Spark has no native range join, and the naive formulation — join on
    * `ts BETWEEN start AND end` with no equi key — is a nested-loop
    * scan of every event against every window. The scale-correct shape
    * is BANDING: explode each window into the 10-minute buckets it
    * covers (3 here: width 20 min ⇒ ≤3 covering buckets), equi-join
    * events on their own bucket id, then apply the exact range as a
    * residual filter. The join becomes a broadcast HASH join (codegen,
    * one probe per event) while windows are few, and the identical plan
    * degrades gracefully to a shuffle join on `bkt` when the interval
    * table is itself SF-scaled — linear either way, never quadratic.
    * The DuckDB oracle runs the straightforward inequality join: same
    * semantics through a deliberately different physical strategy.
    *
    * Window membership is defined on floor-microsecond timestamps
    * (`ts_us`, the repo-wide micros contract), so both engines classify
    * boundary events identically; all outputs are integer counts. */
  def e7RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
      .withColumn("bkt", expr(s"ts_us div $E7BucketUs"))
    val win = ev.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bkt").asc).limit(12)
      .select(col("bkt").as("w_bkt"),
        (col("bkt") * E7BucketUs - E7BucketUs / 2).as("start_us"),
        (col("bkt") * E7BucketUs + 3 * E7BucketUs / 2).as("end_us"))
    val cover = win.select(col("w_bkt"), col("start_us"), col("end_us"),
      explode(sequence(col("w_bkt") - 1, col("w_bkt") + 1)).as("bkt"))
    ev.join(broadcast(cover), Seq("bkt"))
      .filter(col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
      .groupBy(col("w_bkt"), col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"))
      .select(col("w_bkt").as("window_bkt"), col("start_us"), col("end_us"),
        col("n_events"), col("n_users"), col("n_types"))
      .orderBy(col("start_us"))
  }

  /** e8 — strict ordered conversion funnel (the windowFunnel /
    * sequence-match shape every product-analytics engine ships): how far
    * each user advances through view → click → purchase, where every
    * stage must occur STRICTLY AFTER the previous one was first reached
    * — "any click + any purchase, any order" is the classic wrong
    * answer a per-type min aggregation gives.
    *
    * One shuffle on user_id: events collect per user, sort once by the
    * (ts, id) total-order key, and a linear `aggregate` state machine
    * walks the sequence (O(events-per-user), the same per-key cost the
    * sessionizer pays). The DuckDB oracle deliberately uses a DIFFERENT
    * composition — three chained min-after-previous-stage joins — so the
    * differential check cross-validates two independent formulations of
    * the funnel semantics. */
  def e8Funnel(s: SparkSession, dir: String): DataFrame = {
    val k = concat(
      lpad(col("ts_us").cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 10, "0"))
    events(s, dir)
      .select(col("user_id"), k.as("k"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("k"), col("event_type"))))
        .as("evs"))
      .select(col("user_id"),
        expr("""aggregate(evs, 0, (acc, e) -> CASE
                  WHEN acc = 0 AND e.event_type = 'view' THEN 1
                  WHEN acc = 1 AND e.event_type = 'click' THEN 2
                  WHEN acc = 2 AND e.event_type = 'purchase' THEN 3
                  ELSE acc END)""").as("reached"))
      .orderBy(col("user_id"))
  }

  /** Microseconds per day — e9's cohort bucketing unit. */
  private val DayUs = 86400000000L

  /** e9 — cohort retention: users bucketed by first-seen day, the grid of
    * (cohort_day, day_offset) → distinct users active that many days
    * later. Pure integer date arithmetic (epoch-microsecond days, same
    * `div` both engines) — no timezone, no calendar functions.
    *
    * Scale shape: ONE scan. The (user, day) DISTINCT collapses each
    * user's day to one row first (activity volume never amplifies),
    * the cohort day attaches as an unordered min window over user_id on
    * that collapsed set — a window, not a join, so the corpus is never
    * scanned twice (the join formulation plans two full scans, one per
    * branch) — and the final grid aggregation is over (cohort, offset):
    * tiny. Because the base is distinct, the last agg counts rows,
    * never needing a count-distinct's dedup state. */
  def e9CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events(s, dir)
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .distinct()
      .withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** e10 — rolling 7-day active users: per calendar day, DAU (distinct
    * users that day), WAU (distinct users over the trailing 7 days) and
    * the DAU/WAU stickiness ratio — the product-analytics daily board.
    * A sliding COUNT(DISTINCT) cannot run as a plain window (distinct
    * state is not subtractable), so the standard reshape: collapse to
    * (user, day) first, explode each activity day into the ≤7 window
    * days it contributes to, dedupe (window_day, user) — a user active
    * twice in one window counts once — and count rows. Integer epoch-day
    * arithmetic throughout; one rounded division at the end.
    *
    * Scale shape: the (user, day) DISTINCT bounds the explode's input
    * (7 rows per user-day, not per event); both dedup shuffles key on
    * (day, user) — fine-grained, partial-agg'd, no hot key. Window days
    * with no history shorter than 7 days simply cover fewer days (the
    * honest leading-edge semantics both engines state identically). */
  def e10RollingActive(s: SparkSession, dir: String): DataFrame = {
    val userDay = events(s, dir)
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .distinct()
    val dau = userDay.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = userDay
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .distinct()
      .groupBy(col("wday")).agg(count(lit(1)).as("wau"))
    dau.join(wau, dau("day") === wau("wday"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
      .orderBy(col("day"))
  }

  /** e11 — event-type transition matrix (first-order Markov estimate):
    * for every (previous, next) event-type pair across each user's
    * time-ordered stream, the transition count and the row-normalized
    * probability P(next|prev) — the session-model input for behavioral
    * analytics and synthetic-journey generation. Each user's first
    * event has no predecessor and is excluded (stated identically in
    * both engines).
    *
    * Scale shape: ONE shuffle on user_id for the lag window (the same
    * partitioning e1/e3 use), then the pair aggregation's map-side
    * combine collapses each partition to ≤ |types|² rows before its
    * exchange; the normalizing window runs over the aggregated matrix
    * (≤ |types|² rows, corpus-size-independent). Deterministic
    * ordering inside a user via the (ts_us, event_id) total order. */
  def e11TransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val withPrev = events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUserTime))
      .filter(col("prev").isNotNull)
    val counts = withPrev
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n_trans"))
    val wRow = Window.partitionBy(col("prev"))
    counts
      .withColumn("n_from", sum(col("n_trans")).over(wRow))
      .withColumn("p_trans",
        round(col("n_trans").cast("double") / col("n_from").cast("double"),
          4))
      .orderBy(col("prev"), col("next"))
  }

  /** e12 — per-user journey predictability: the quantized conditional
    * entropy of each user's own transition matrix. For every transition
    * the user made, its surprisal is floor(log2(n_prev / n_pair)) whole
    * bits — how surprising that step was GIVEN the user's own history —
    * and the per-user mean over all transitions separates deterministic
    * journeys (bots, scripted crawlers: 0 bits — every prev has exactly
    * one next) from erratic ones. The behavioral-segmentation /
    * bot-screen signal a crawl-ingest pipeline computes before trusting
    * a source's engagement stream.
    *
    * Bits are quantized via the t12 trick — `length(bin(n_prev div
    * n_pair)) - 1` on exact integer counts — so there is no float log
    * and no cross-row float accumulation; both engines agree
    * bit-for-bit, where a sum of `ln()`s over shuffled rows would be
    * order- and engine-dependent.
    *
    * Scale shape: ONE shuffle on user_id for the lag window (shared
    * key with e1/e3/e11), then the (user, prev, next) aggregation is
    * map-side-combined to ≤ |users|·|types|² rows, the n_prev window
    * runs over that aggregated table partitioned by (user, prev), and
    * the final per-user rollup re-shuffles only pair-table rows. No
    * stage ever carries more than the aggregated matrix. */
  def e12JourneyEntropy(s: SparkSession, dir: String): DataFrame = {
    val withPrev = events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUserTime))
      .filter(col("prev").isNotNull)
    val pairCounts = withPrev
      .groupBy(col("user_id"), col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n_pair"))
    val wPrev = Window.partitionBy(col("user_id"), col("prev"))
    pairCounts
      .withColumn("n_prev", sum(col("n_pair")).over(wPrev))
      .withColumn("pair_bits",
        (length(bin(expr("n_prev div n_pair"))) - 1).cast("long"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("n_pair")).as("n_trans"),
        count(lit(1)).as("n_pairs"),
        sum(col("n_pair") * col("pair_bits")).as("bits_sum"))
      .select(col("user_id"), col("n_trans"), col("n_pairs"),
        col("bits_sum"),
        round(col("bits_sum").cast("double") / col("n_trans").cast("double"),
          4).as("mean_bits"))
      .orderBy(col("user_id"))
  }

  /** e13 — hourly traffic-anomaly (spike) screen: per event type, flag
    * hours whose event count exceeds 2× the trailing-24-bucket mean —
    * the on-call dashboard rule that catches a bot burst or a
    * double-firing client before either pollutes the engagement stream
    * (the batch complement of e12's per-user entropy screen). The mean
    * is never divided out: `n · 24 > 2 · Σ(trailing 24)` is the same
    * predicate cross-multiplied, so every compared value is an exact
    * integer in both engines — no float crosses a row. Buckets are the
    * type's EXISTING hourly rows (sparse hours collapse, identically in
    * the replay's row frame), and the flag only fires on a full
    * 24-bucket trailing frame (`prev_n = 24`) so early hours cannot
    * alias as spikes.
    *
    * Scale shape: one hour-floored (epoch-hour, type) aggregation with
    * map-side combine collapses the corpus; the trailing window runs
    * over the aggregated ≤ hours×types table — corpus-size-independent,
    * the e11/e12 design grammar. */
  def e13HourlyAnomaly(s: SparkSession, dir: String): DataFrame = {
    val wTrail = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
      .rowsBetween(-24, -1)
    events(s, dir)
      .withColumn("hour_us", (col("ts_us") - pmod(col("ts_us"), lit(3600000000L))))
      .groupBy(col("hour_us"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_n", count(lit(1)).over(wTrail))
      .withColumn("prev_sum", coalesce(sum(col("n")).over(wTrail), lit(0L)))
      .withColumn("spike",
        col("prev_n") === 24 && col("n") * 24 > col("prev_sum") * 2)
      .select(col("event_type"), col("hour_us"), col("n"),
        col("prev_n"), col("prev_sum"), col("spike"))
      .orderBy(col("event_type"), col("hour_us"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e1_user_journey" -> e1UserJourney _,
    "e2_rolling_value" -> e2RollingValue _,
    "e3_sessionize"   -> e3Sessionize _,
    "e4_hourly_mix"   -> e4HourlyMix _,
    "e5_json_extract" -> e5JsonExtract _,
    "e6_asof_join"    -> e6AsofJoin _,
    "e7_range_join"   -> e7RangeJoin _,
    "e8_funnel"       -> e8Funnel _,
    "e9_cohort_retention" -> e9CohortRetention _,
    "e10_rolling_active" -> e10RollingActive _,
    "e11_transition_matrix" -> e11TransitionMatrix _,
    "e12_journey_entropy" -> e12JourneyEntropy _,
    "e13_hourly_anomaly" -> e13HourlyAnomaly _,
  )

  val oracleSql: Map[String, String] = Map(
    "e1_user_journey" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events
        |)
        |SELECT user_id, count(*) AS n_events,
        |       arg_min(event_type, lpad(CAST(ts_us AS VARCHAR), 20, '0')
        |         || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS first_type,
        |       arg_max(event_type, lpad(CAST(ts_us AS VARCHAR), 20, '0')
        |         || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS last_type,
        |       round(CAST(sum(gap_us) AS DOUBLE) / count(gap_us) / 1e6, 3)
        |         AS avg_gap_s,
        |       round(CAST(max(gap_us) AS DOUBLE) / 1e6, 3) AS max_gap_s
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "e2_rolling_value" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id < 5
        |)
        |SELECT user_id, event_id, ts_us, value,
        |       CAST(sum(cents) OVER (PARTITION BY user_id
        |              ORDER BY ts_us, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         / 100.0 AS rolling_sum
        |FROM e ORDER BY user_id, ts_us, event_id""".stripMargin,
    "e3_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |                   > 30 * 60 * 1000000 THEN 1
        |              ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |), s AS (
        |  SELECT user_id, ts_us,
        |         sum(is_new) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM e
        |)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |       count(*) AS n_events,
        |       min(ts_us) AS start_us, max(ts_us) AS end_us,
        |       (max(ts_us) - min(ts_us)) // 1000000 AS duration_s
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "e4_hourly_mix" ->
      """WITH g AS (
        |  SELECT hour(ts) AS hour, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT hour, event_type, n,
        |       round(CAST(n AS DOUBLE)
        |             / sum(n) OVER (PARTITION BY hour), 4) AS hour_share
        |FROM g ORDER BY hour, event_type""".stripMargin,
    "e5_json_extract" ->
      """WITH e AS (
        |  -- TRY_CAST mirrors Spark's null-on-malformed cast semantics
        |  SELECT event_type, TRY_CAST(props->>'k' AS BIGINT) AS k FROM events
        |)
        |SELECT event_type, count(k) AS n_with_k,
        |       CAST(sum(k) AS BIGINT) AS k_sum,
        |       min(k) AS k_min, max(k) AS k_max
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e6_asof_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE user_id < 30
        |), p AS (
        |  SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'purchase'
        |), er AS (
        |  SELECT user_id, ts_us FROM ev WHERE event_type = 'error'
        |)
        |SELECT p.user_id, p.event_id, p.ts_us, e.ts_us AS last_err_us,
        |       (p.ts_us - e.ts_us) // 1000000 AS since_err_s
        |FROM p ASOF LEFT JOIN er e
        |  ON p.user_id = e.user_id AND p.ts_us >= e.ts_us
        |ORDER BY p.user_id, p.ts_us""".stripMargin,
    "e7_range_join" ->
      s"""WITH ev AS (
         |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         |         epoch_us(ts) // $E7BucketUs AS bkt
         |  FROM events
         |), win AS (
         |  SELECT bkt AS window_bkt,
         |         bkt * $E7BucketUs - ${E7BucketUs / 2} AS start_us,
         |         bkt * $E7BucketUs + ${3 * E7BucketUs / 2} AS end_us
         |  FROM (SELECT bkt, count(*) AS cnt FROM ev GROUP BY 1
         |        ORDER BY cnt DESC, bkt ASC LIMIT 12)
         |)
         |SELECT w.window_bkt, w.start_us, w.end_us, count(*) AS n_events,
         |       count(DISTINCT e.user_id) AS n_users,
         |       count(DISTINCT e.event_type) AS n_types
         |FROM win w JOIN ev e
         |  ON e.ts_us >= w.start_us AND e.ts_us < w.end_us
         |GROUP BY 1, 2, 3 ORDER BY w.start_us""".stripMargin,
    // independent formulation: three chained min-after-previous-stage
    // aggregations instead of the engine's sorted-sequence state machine
    "e8_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
        |           || lpad(CAST(event_id AS VARCHAR), 10, '0') AS k
        |  FROM events
        |), u AS (
        |  SELECT DISTINCT user_id FROM e
        |), v AS (
        |  SELECT user_id, min(k) AS kv FROM e
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(k) AS kc FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND k > kv GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(k) AS kp FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND k > kc GROUP BY e.user_id
        |)
        |SELECT u.user_id,
        |       CASE WHEN p.user_id IS NOT NULL THEN 3
        |            WHEN c.user_id IS NOT NULL THEN 2
        |            WHEN v.user_id IS NOT NULL THEN 1
        |            ELSE 0 END AS reached
        |FROM u
        |LEFT JOIN v USING (user_id)
        |LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |ORDER BY u.user_id""".stripMargin,
    "e9_cohort_retention" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events
        |), ch AS (
        |  SELECT user_id, min(day) AS cohort_day FROM b GROUP BY 1
        |)
        |SELECT ch.cohort_day, b.day - ch.cohort_day AS day_offset,
        |       count(*) AS n_users
        |FROM b JOIN ch USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e10_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events
        |), dau AS (
        |  SELECT day, count(*) AS dau FROM ud GROUP BY 1
        |), wau AS (
        |  SELECT wday, count(*) AS wau FROM (
        |    SELECT DISTINCT user_id, day + i AS wday
        |    FROM ud, unnest(range(7)) AS t(i)
        |  ) GROUP BY 1
        |)
        |SELECT d.day, d.dau, w.wau,
        |       round(CAST(d.dau AS DOUBLE) / w.wau, 4) AS stickiness
        |FROM dau d JOIN wau w ON w.wday = d.day
        |ORDER BY d.day""".stripMargin,
    // e11: same lag window over the (ts_us, event_id) total order; the
    // normalizing window sum is cast back to BIGINT (DuckDB widens to
    // HUGEINT)
    "e11_transition_matrix" ->
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS prev,
        |         event_type AS next
        |  FROM events
        |), c AS (
        |  SELECT prev, next, count(*) AS n_trans
        |  FROM p WHERE prev IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT prev, next, n_trans,
        |       CAST(sum(n_trans) OVER (PARTITION BY prev) AS BIGINT)
        |         AS n_from,
        |       round(CAST(n_trans AS DOUBLE)
        |             / CAST(sum(n_trans) OVER (PARTITION BY prev)
        |                    AS DOUBLE), 4) AS p_trans
        |FROM c ORDER BY prev, next""".stripMargin,
    // e12: the same lag window, then per-user quantized conditional
    // entropy on exact integer counts — length(bin(x))-1 is the shared
    // floor-log2, so no float log exists in either engine
    // e13: hour-floored epoch-micros buckets, trailing 24-row frame per
    // type over the aggregated table, cross-multiplied integer predicate
    "e13_hourly_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |         epoch_us(ts) - (epoch_us(ts) % 3600000000) AS hour_us,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |trailed AS (
        |  SELECT event_type, hour_us, n,
        |         count(*) OVER w AS prev_n,
        |         coalesce(CAST(sum(n) OVER w AS BIGINT), 0) AS prev_sum
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_type, hour_us, n, prev_n, prev_sum,
        |       prev_n = 24 AND n * 24 > prev_sum * 2 AS spike
        |FROM trailed ORDER BY event_type, hour_us""".stripMargin,
    "e12_journey_entropy" ->
      """WITH p AS (
        |  SELECT user_id,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS prev,
        |         event_type AS next
        |  FROM events
        |), c AS (
        |  SELECT user_id, prev, next, count(*) AS n_pair
        |  FROM p WHERE prev IS NOT NULL GROUP BY 1, 2, 3
        |), b AS (
        |  SELECT user_id, n_pair,
        |         length(bin(CAST(sum(n_pair) OVER (PARTITION BY user_id,
        |             prev) AS BIGINT) // n_pair)) - 1 AS pair_bits
        |  FROM c
        |)
        |SELECT user_id,
        |       CAST(sum(n_pair) AS BIGINT) AS n_trans,
        |       count(*) AS n_pairs,
        |       CAST(sum(n_pair * pair_bits) AS BIGINT) AS bits_sum,
        |       round(CAST(sum(n_pair * pair_bits) AS DOUBLE)
        |             / sum(n_pair), 4) AS mean_bits
        |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
