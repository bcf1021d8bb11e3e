package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one module that knows how a frame is pinned. Every checkpoint,
  * cache and block release of the engine goes through its four verbs
  * (MaterializeSpec's source guard fails on any other call site):
  *
  * | master           | checkpoint dir | [[truncate]]      | [[reuse]] default |
  * |------------------|----------------|-------------------|-------------------|
  * | local, local[…]  | unset          | `localCheckpoint` | `localCheckpoint` |
  * | local, local[…]  | set            | `checkpoint`      | `localCheckpoint` |
  * | any other        | set            | `checkpoint`      | `cache`           |
  * | any other        | unset          | throws            | `cache`           |
  *
  * The dir is `SparkContext.getCheckpointDir`. [[isLive]] says whether a
  * truncated frame's data is still readable, and [[release]] unpersists
  * the blocks behind a frame or an id set.
  *
  * '''truncate''' cuts lineage: the iterative loops (d6's connected
  * components, the BPE trainer behind t24–t26) need it, because round r
  * reads round r-1 and without truncation the plan tree doubles per round
  * and analysis cost grows exponentially (SCALING.md r19: 16 BPE rounds
  * under cache-based reuse never finished planning). [[SharedStage]] needs
  * it too, because its pinned artifact must outlive the bench cleanup
  * that drops every cache. A local checkpoint's blocks die with their
  * executor, and nothing can recompute them, so on a cluster a lost
  * executor would fail the loop or the stage's consumers with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. The verb is therefore a pure
  * function of the master and the checkpoint dir ([[truncateVerb]]), and
  * no knob: a reliable `checkpoint` wherever a dir is set, a
  * `localCheckpoint` only under a local master without one, and an error
  * naming `SparkContext.setCheckpointDir` anywhere else. It does not
  * follow `graft.materialize`: the sensitivity run sets that to `cache`
  * in local mode without a dir, where cutting lineage must still work.
  *
  * '''reuse''' pins a frame that feeds several branches of one query
  * (e.g. the shingled corpus in `Dedup.d3MinhashLsh`). The
  * `graft.materialize` system property (or the `SPARK_GRAFT_MATERIALIZE`
  * env var) picks the mode without touching query code:
  *
  *   - `localCheckpoint` (local default) — lazy lineage truncation; the
  *     blocks are released by the bench cleanup or when the plan is
  *     garbage-collected (no session-lifetime CacheManager entry).
  *   - `cache` (default under any other master, [[defaultFor]]) — lazy
  *     cache through the CacheManager; keeps lineage, spills, survives
  *     executor loss.
  *   - `none` — no materialization (every branch recomputes; measures
  *     what the reuse is worth).
  *
  * Any other value fails loudly instead of silently running one of the
  * three under another name. The local flip to `localCheckpoint` (r22;
  * `cache` through r21) is a measured single-compute fix: under AQE a
  * `.cache()`d multi-branch intermediate does NOT reliably single-compute
  * — concurrent query-stage materializations and per-branch column
  * pruning leave canonically-diverged copies of the guarded subtree in
  * the physical plan, and the kernel below it re-executes per branch.
  * Σtask under cache vs localCheckpoint, ProfileQuery at sf0.1/local[32]
  * (OPTIMIZATION_r22.md):
  *
  * | entry    | cache  | localCheckpoint | wall            |
  * |----------|--------|-----------------|-----------------|
  * | d12      | 27 s   | 2.6 s           | flat            |
  * | t12_zipf | 22 s   | 0.6 s           | 1.32 → 1.06 s   |
  * | d3       | 9.9 s  | 0.9 s           | flat            |
  * | d4       | 9.4 s  | 0.7 s           | 1.33 → 1.07 s   |
  * | t23      | 6.5 s  | 0.3 s           | flat            |
  *
  * A lazy `localCheckpoint` is race-proof by construction: the plan leaf
  * is ONE LogicalRDD, so every consumer shares one stage graph and the
  * block manager's per-partition locks dedup concurrent first readers;
  * nothing can prune below the leaf, so no copy can diverge. DedupSpec
  * pins that d3 under every mode returns the same rows, and that an
  * unknown mode throws; MATBENCH.md records what each mode costs at
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

  private def isLocal(master: String): Boolean =
    master == "local" || master.startsWith("local[")

  /** `localCheckpoint` for `local` and `local[...]`; `cache` for any other
    * master (`local-cluster[...]`, `spark://`, `yarn`, `k8s://`). */
  def defaultFor(master: String): String =
    if (isLocal(master)) "localCheckpoint" else "cache"

  /** Pins `df` for multi-branch reuse in the [[mode]]. */
  def reuse(df: DataFrame): DataFrame = mode match {
    case "localCheckpoint" => df.localCheckpoint(false)
    case "cache"           => df.cache()
    case "none"            => df
    case other => sys.error(
      s"unknown $Prop mode '$other' (localCheckpoint|cache|none)")
  }

  /** The lineage verb for a context: `checkpoint` with a checkpoint dir,
    * `localCheckpoint` under a local master without one; any other master
    * without a dir throws. */
  private[graft] def truncateVerb(master: String,
      checkpointDir: Option[String]): String =
    if (checkpointDir.isDefined) "checkpoint"
    else if (isLocal(master)) "localCheckpoint"
    else throw new IllegalStateException(
      s"cutting lineage under master '$master' needs a reliable checkpoint " +
        "directory: call SparkContext.setCheckpointDir (a local checkpoint's " +
        "blocks die with their executor)")

  /** `df` with its lineage cut by [[truncateVerb]]; `eager` runs the
    * checkpoint now, otherwise the first action on the result does. */
  def truncate(df: DataFrame, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    truncateVerb(sc.master, sc.getCheckpointDir) match {
      case "checkpoint" => df.checkpoint(eager)
      case _            => df.localCheckpoint(eager)
    }
  }

  /** Whether a [[truncate]]d frame can still be read: a local checkpoint
    * while its RDD is persisted, a reliable one once it is written
    * (`getCheckpointFile` is set only for a checkpointed reliable RDD). */
  def isLive(df: DataFrame): Boolean = {
    val persisted = df.sparkSession.sparkContext.getPersistentRDDs
    val rdds = checkpointRdds(df)
    rdds.nonEmpty && rdds.forall(r =>
      r.getCheckpointFile.isDefined || persisted.contains(r.id))
  }

  /** The RDDs behind a truncated frame's `LogicalRDD` leaves — what holds
    * its blocks. `Dataset.unpersist` does not release a `localCheckpoint`:
    * the blocks belong to this RDD, not to the cache manager. */
  private[graft] def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd }

  /** Unpersists the blocks behind `df`. A reliable checkpoint has none. */
  def release(df: DataFrame, blocking: Boolean): Unit =
    checkpointRdds(df).foreach(_.unpersist(blocking))

  /** Unpersists every persisted RDD of `s` whose id is in `ids`. */
  def release(s: SparkSession, ids: Int => Boolean, blocking: Boolean): Unit =
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (ids(id)) rdd.unpersist(blocking)
    }
}
