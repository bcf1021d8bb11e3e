package graft

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the mains: one session recipe for Verify, Bench,
  * MicroBench, ScaleBench, ScaleGen, ProfileQuery and Explain, the one
  * reader of their core count, and the timing kernel of the benchmark
  * mains, so none of them can drift apart. */
object BenchSupport {

  /** Core count of every main's `local[n]` session: env SPARK_GRAFT_CPUS,
    * default 4 — the core count of the graded Verify run and of
    * perfbench. A graded Bench capture sets 32. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Shuffle partition count: defaults to the core count (the committed
    * local-mode convention every BENCH_r* was captured under), overridable
    * via SPARK_GRAFT_SHUFFLE_PARTITIONS so a CORE-scaling probe can hold
    * per-task work constant while varying cores (VERDICT r21 #2: with
    * partitions == cpus, lowering cores also lowers partition count and
    * the 8-vs-32-core ratio measures scheduling, not compute scaling —
    * the probe was confounded by design). */
  val shufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS); read the raw nanos as Long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One timed noop-sink run (noop computes every output column; count()
    * would let Catalyst prune the compute away). Returns -1 on failure —
    * a failing query must not kill the whole run. What the run
    * materialized is released AFTER the timed region, so queries that pin
    * multi-branch intermediates (d3/d4) pay that cost inside their own
    * measurement, and nothing survives to pressure — or subsidize — any
    * later run (the r4 bench's ±6x per-query noise on unchanged code
    * traced in part to caches accumulating across the run):
    *
    * | pinned by                              | released here by          |
    * |----------------------------------------|---------------------------|
    * | `reuse`, mode `cache`                  | `clearCache`              |
    * | `reuse`, mode `localCheckpoint`        | [[Materialize.release]]   |
    * | `truncate`, local, no checkpoint dir   | [[Materialize.release]]   |
    * | `truncate`, checkpoint dir set         | nothing: files, no blocks |
    * | [[SharedStage]] pins                   | kept: cross-query stages  |
    *
    * clearCache alone would leave the block-manager blocks until their
    * plan is garbage-collected, and the cross-run isolation would silently
    * break. The release BLOCKS: the r8/r9 per-query drift on unchanged
    * code implicated a non-blocking release racing the next timed region
    * (block-manager removal still in flight while the next query was
    * being measured). */
  def once(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    val elapsed =
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    spark.catalog.clearCache()
    val pinned = SharedStage.pinnedIds
    Materialize.release(spark, id => !pinned(id), blocking = true)
    elapsed
  }

  /** Smallest-SF sibling of the target dir for the warmup pass, so JVM/
    * codegen/catalog startup isn't charged to the first timed query. Falls
    * back to the target dir itself when the sibling doesn't exist (warmup
    * at full SF is just a slightly costlier warmup). */
  def warmupDir(sfDir: String): String = {
    val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (sibling.isDirectory) sibling.getPath else sfDir
  }
}
