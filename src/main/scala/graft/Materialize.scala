package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialization strategy for multi-branch reuse (a DataFrame that feeds
  * several downstream branches of one query, e.g. the shingled corpus in
  * `Dedup.d3MinhashLsh`).
  *
  * Default is `localCheckpoint` under a `local`/`local[...]` master
  * (r22; was `cache` through r21) and `cache` under any other master
  * ([[defaultFor]]): block-manager blocks of a local checkpoint die with
  * their executor, and only the cache keeps the lineage to recompute
  * them on a cluster. The local flip is a measured single-compute fix,
  * not a taste change: under AQE, a
  * `.cache()`d multi-branch intermediate does NOT reliably single-compute
  * — concurrent query-stage materializations and per-branch column
  * pruning leave canonically-diverged copies of the guarded subtree in
  * the physical plan, and the expensive kernel below it re-executes per
  * branch. Measured with ProfileQuery at sf0.1/local[32] (r22,
  * measurements in OPTIMIZATION_r22.md): Σtask under cache vs
  * localCheckpoint — d12 27 s → 2.6 s, t12_zipf 22 s → 0.6 s, d3
  * 9.9 s → 0.9 s, d4 9.4 s → 0.7 s, t23 6.5 s → 0.3 s — wall
  * flat-or-better everywhere (d4 1.33 → 1.07 s, t12_zipf 1.32 → 1.06 s).
  * A lazy `localCheckpoint` is race-proof by construction: the plan leaf
  * is ONE LogicalRDD, so every consumer shares one stage graph and the
  * block manager's per-partition locks dedup concurrent first readers;
  * nothing can prune below the leaf, so no copy can diverge. At 100 TB
  * the task-time waste is the scarce resource (VERDICT r21 #3), and a
  * production pipeline materializes such intermediates to storage anyway
  * — the seam below is where that strategy plugs in. The
  * `graft.materialize` system property (or the `SPARK_GRAFT_MATERIALIZE`
  * env var) switches the strategy WITHOUT touching query code:
  *
  *   - `localCheckpoint` (local default) — truncate lineage and persist the
  *                           computed blocks via the block manager; blocks
  *                           are released when the plan is garbage-
  *                           collected (no session-lifetime CacheManager
  *                           entry).
  *   - `cache` (cluster default) — lazy in-memory/disk cache via the
  *                           CacheManager; keeps lineage, spills, survives
  *                           executor loss — but see the duplication
  *                           measurement above.
  *   - `none`              — no materialization (every branch recomputes;
  *                           useful to measure what the reuse is worth)
  *
  * Any other value fails loudly instead of silently running one of the
  * three under another name. DedupSpec pins that d3 under every
  * non-default mode returns the same rows as under the default, and that
  * an unknown mode throws; MATBENCH.md records what each mode costs at
  * sf0.1.
  */
object Materialize {
  val Prop = "graft.materialize"

  /** `graft.materialize` if set, else [[defaultFor]] the active (or
    * default) session's master; `localCheckpoint` with no session. */
  def mode: String =
    sys.props.get(Prop).orElse(sys.env.get("SPARK_GRAFT_MATERIALIZE"))
      .getOrElse(defaultFor(SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .fold("local")(_.sparkContext.master)))

  /** `localCheckpoint` for `local` and `local[...]`; `cache` for any other
    * master (`local-cluster[...]`, `spark://`, `yarn`, `k8s://`). */
  def defaultFor(master: String): String =
    if (master == "local" || master.startsWith("local[")) "localCheckpoint"
    else "cache"

  def apply(df: DataFrame): DataFrame = mode match {
    case "localCheckpoint" => df.localCheckpoint(false)
    case "cache"           => df.cache()
    case "none"            => df
    case other => sys.error(
      s"unknown $Prop mode '$other' (localCheckpoint|cache|none)")
  }
}
