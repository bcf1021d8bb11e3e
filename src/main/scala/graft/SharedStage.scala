package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry of eagerly-materialized PIPELINE-STAGE
  * artifacts shared by downstream catalog queries — e.g. the converged
  * dedup star edges: d6's cluster assignment computes them as its own
  * output, and d7's cleaned corpus is the NEXT STAGE of the same
  * pipeline, so it should pay only its marginal join + aggregate, not a
  * full d3 + connected-components re-run. This is exactly how a
  * production run shares a materialized intermediate between stages (at
  * 100 TB the intermediate would be a parquet/Delta table; in-session it
  * is a truncated frame).
  *
  * The artifact is pinned by an EAGER [[Materialize.truncate]], so the
  * verb follows [[Materialize]]'s table:
  *
  * | master          | checkpoint dir | pin               | live while        |
  * |-----------------|----------------|-------------------|-------------------|
  * | local, local[…] | unset          | `localCheckpoint` | its RDD persisted |
  * | any             | set            | `checkpoint`      | always (files)    |
  * | other           | unset          | throws            | —                 |
  *
  * The checkpoint's RDD ids are recorded as pinned: [[BenchSupport.once]]'s
  * cross-run cleanup releases every persisted RDD EXCEPT these, so the
  * bench measures downstream stages (d7) at their marginal cost while
  * upstream queries (d6) — which deliberately do NOT read the shared
  * copy — still pay, and are measured at, their full pipeline cost.
  * Verify needs no special handling: first use computes, so every catalog
  * entry stays self-contained. Only the FINAL artifact is pinned: whatever
  * the build persisted along the way (reuse pins, per-round CC
  * checkpoints) is released by the bench cleanup as usual.
  */
object SharedStage {
  private val memo = TrieMap.empty[(SparkSession, String, String), DataFrame]
  private val ids = TrieMap.empty[Int, Unit]

  /** Block-manager RDD ids the bench cleanup must NOT release. */
  def pinnedIds: Set[Int] = ids.keySet.toSet

  /** The artifact `name` for (`s`, `dir`), computing and pinning it on
    * first use. `build` runs at most once per (session, dir, name) while
    * the pin is [[Materialize.isLive]]. Something outside this registry
    * can unpersist a local checkpoint's blocks (a test's scorched-earth
    * cleanup, an operator error); serving that memo would throw
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND at collect time, so the entry
    * recomputes instead. Liveness is read off the pin's own checkpoint
    * RDD only: what the build persisted on the way dies at the next bench
    * cleanup, and reading that would re-prime the artifact on every run
    * (observed: t16 benched at full-ladder cost, not marginal). */
  def getOrCompute(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    val key = (s, dir, name)
    memo.get(key) match {
      case Some(df) if Materialize.isLive(df) => df
      case stale =>
        stale.foreach(Materialize.checkpointRdds(_).foreach(r => ids.remove(r.id)))
        val pinned = Materialize.truncate(build, eager = true)
        Materialize.checkpointRdds(pinned).foreach(r => ids.put(r.id, ()))
        memo.put(key, pinned)
        pinned
    }
  }

  /** Release every pinned artifact of session `s` (end of a bench phase;
    * a long-lived session calls this when a pipeline's stages are done). */
  def release(s: SparkSession): Unit = {
    memo.keys.filter(_._1 eq s).foreach(memo.remove)
    Materialize.release(s, ids.contains, blocking = true)
    ids.clear()
  }
}
