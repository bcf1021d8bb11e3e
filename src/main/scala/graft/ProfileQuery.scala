package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job / per-stage profiler for one catalog query (guide §1: decide
  * whether a slow query spends its wall-clock in compute, shuffle, or the
  * job/stage scheduling ladder BEFORE touching the plan).
  *
  * `runMain graft.ProfileQuery <query> [sfDir] [runs]` executes the query
  * through the same noop-sink kernel Bench uses (warm run first), with a
  * SparkListener recording every job and stage of the LAST run: job
  * wall-clock, per-stage task-time sum, shuffle read/write bytes, task
  * count. Output: one aligned table per run plus a one-line summary —
  * jobs, stages, Σjob wall, Σtask time, Σshuffle bytes — so the ladder
  * share (wall − task/cores) is readable at a glance; the last run also
  * prints its Catalyst rule time and the top 25 lines of the rule-time
  * dump. Cores: [[BenchSupport.cpus]].
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: ProfileQuery <q1,q2,...> [sfDir] [runs]"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = BenchSupport.session()
    names.foreach(profileOne(spark, _, sfDir, runs))
    spark.stop()
  }

  private def profileOne(spark: org.apache.spark.sql.SparkSession,
      name: String, sfDir: String, runs: Int): Unit = {

    case class Stage(id: Int, name: String, tasks: Int, taskMs: Long,
        shRead: Long, shWrite: Long)
    val jobStart = mutable.Map.empty[Int, Long]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = e.time
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs += ((e.jobId, e.time - jobStart.getOrElse(e.jobId, e.time), ""))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages += Stage(i.stageId, i.name.takeWhile(_ != '(').trim,
          i.numTasks, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten)
      }
    }

    // warmup (codegen, page cache, SharedStage priming)
    BenchSupport.once(spark, name, sfDir)
    (1 to runs).foreach { r =>
      if (r == runs)
        org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
      jobs.clear(); stages.clear(); jobStart.clear()
      spark.sparkContext.addSparkListener(listener)
      val sec = BenchSupport.once(spark, name, sfDir)
      spark.sparkContext.removeSparkListener(listener)
      // listener bus is async; give it a beat to drain
      Thread.sleep(300)
      val jobWall = jobs.map(_._2).sum
      val taskMs = stages.map(_.taskMs).sum
      val shr = stages.map(_.shRead).sum
      val shw = stages.map(_.shWrite).sum
      println(f"[profile] $name run$r: ${sec}%.3f s wall | ${jobs.size} jobs " +
        f"(Σ ${jobWall / 1e3}%.3f s) | ${stages.size} stages | " +
        f"Σtask ${taskMs / 1e3}%.3f s | shuffle R ${shr / 1024}%d KiB " +
        f"W ${shw / 1024}%d KiB")
      if (r == runs) {
        // total Catalyst rule time for THIS run (analysis+optimize+AQE
        // replanning) — the driver-side planning share of the wall gap
        val rules =
          org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
        val ruleNs = rules.linesIterator
          .collectFirst { case l if l.contains("Total time:") =>
            "[0-9.E]+".r.findFirstIn(l.split(":").last).map(_.toDouble) }
          .flatten.getOrElse(-1.0)
        println(f"  catalyst rule time (last run): $ruleNs%.3f s")
        println(rules.linesIterator.take(25).mkString("\n"))
        jobs.sortBy(-_._2).take(12).foreach { case (id, ms, _) =>
          println(f"  job $id%4d  ${ms / 1e3}%8.3f s")
        }
        stages.sortBy(-_.taskMs).take(16).foreach { st =>
          println(f"  stage ${st.id}%4d ${st.name}%-24s tasks=${st.tasks}%4d " +
            f"task ${st.taskMs / 1e3}%8.3f s  shR ${st.shRead / 1024}%8d KiB " +
            f"shW ${st.shWrite / 1024}%8d KiB")
        }
      }
    }
  }
}
