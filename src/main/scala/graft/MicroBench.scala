package graft

/** Reference-format microbenchmark: the `microbenchmark(times=5)` tables
  * of the reference (RDataFramesSQL.Rmd:139-152 and the knitted outputs
  * cited in BASELINE.md) report min/lq/mean/median/uq/max per
  * implementation; this main reproduces that reporting shape for every
  * catalog query. See [[BenchSupport]] for the shared timing kernel.
  *
  * Usage: sbt "runMain graft.MicroBench [sfDir] [times] [namePrefix...]"
  * (defaults: /root/testdata/sf0.01, 5 — the reference's times=5; any
  * further args restrict the run to queries matching one of the
  * prefixes, for single-operator iteration).
  * Prints one aligned table plus one JSON line per query.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val times = args.lift(1).map(_.toInt).getOrElse(5)
    val prefixes = args.drop(2)
    val spark = BenchSupport.session()

    // quartile by linear interpolation (type-7, R's default — what
    // microbenchmark's summary prints)
    def quantile(sorted: Array[Double], q: Double): Double = {
      val h = (sorted.length - 1) * q
      val lo = h.toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }

    // warm up at the TARGET SF: unlike Bench (which reports min-of-N and
    // only needs JVM/codegen warmup), this main prints mean/median/uq/max
    // quartiles, which must not absorb cold page-cache reads or
    // first-execution AQE decisions for the measured dataset
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    names.foreach(BenchSupport.once(spark, _, sfDir))
    println(f"${"query"}%-28s ${"min"}%8s ${"lq"}%8s ${"mean"}%8s ${"median"}%8s ${"uq"}%8s ${"max"}%8s  (sec, times=$times)")
    names.foreach { name =>
      val raw = (1 to times).map(_ => BenchSupport.once(spark, name, sfDir))
      if (raw.contains(-1.0)) {
        println(f"$name%-28s FAILED (see stderr)")
      } else {
        val ts = raw.toArray.sorted
        val mean = ts.sum / ts.length
        val (mn, lq, med, uq, mx) = (ts.head, quantile(ts, 0.25),
          quantile(ts, 0.5), quantile(ts, 0.75), ts.last)
        println(f"$name%-28s $mn%8.3f $lq%8.3f $mean%8.3f $med%8.3f $uq%8.3f $mx%8.3f")
        println(s"""{"query":"$name","min":$mn,"lq":$lq,"mean":$mean,"median":$med,"uq":$uq,"max":$mx,"times":$times,"sf":"$sfDir"}""")
      }
    }
    spark.stop()
  }
}
