package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** SURVEY §4 names Zipfian keys (PostId/OwnerUserId-shaped data) as the
  * 100 TB risk and the plan: "rely on AQE for skew joins, salt only if
  * AQE is insufficient" (x4 demonstrates the manual salting path). This
  * spec proves the AQE path AS A PLAN FACT: a join with one dominant key
  * executes with the skewed partition split (`isSkewJoin` on the
  * sort-merge join in the final adaptive plan), not with one straggler
  * task reading the whole hot key. */
class AqeSkewSpec extends SparkSpec {

  test("AQE splits the hot key of a skewed sort-merge join (skew=true)") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // production defaults (256 MB / factor 5) scaled down so test-sized
      // data exhibits the same mechanism the 100 TB run relies on
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ

      // 99% of fact rows share key 0 — the Zipfian-head shape
      val fact = spark.range(0, 200000).select(
        when(col("id") % 100 < 99, 0L).otherwise(pmod(col("id"), lit(1000))).as("k"),
        concat(lit("payload-padding-padding-padding-"), col("id")).as("v"))
      val dim = spark.range(0, 1000)
        .select(col("id").as("k"), concat(lit("dim"), col("id")).as("d"))
      val joined = fact.join(dim, "k")
      // collect() runs through THIS Dataset's QueryExecution, so AQE
      // finalizes the plan we inspect (df.rdd/foreach would build a
      // separate QueryExecution and leave this one isFinalPlan=false)
      assert(joined.collect().length == 200000)

      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      // the SMJ sits inside a ResultQueryStage (whose plan is not a
      // `children` edge), so assert on the rendered final plan: the skew
      // flag on the join and the skew-split shuffle read must both appear
      val rendered = finalPlan.toString
      assert(rendered.contains("SortMergeJoin(skew=true)"),
        s"AQE did not mark the join as skew-split:\n$rendered")
      assert(rendered.contains("skewed"),
        s"expected a skew-split AQEShuffleRead:\n$rendered")
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }
}
