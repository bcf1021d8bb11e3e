package graft

/** Plan inspector: `runMain graft.Explain <query> [sfDir] [mode]` prints
  * the formatted (or extended/codegen) plan for one SparkEntry query and
  * one timed noop-sink run. The fastest loop for the "explain, then
  * iterate until it's the plan you'd want" discipline — Bench times all
  * queries but never shows a plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: Explain <queryName> [sfDir] [mode]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val mode = args.lift(2).getOrElse("formatted")
    val spark = BenchSupport.session()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain(mode)
    // min-of-3 with Bench's own kernel, so numbers line up with BENCH_r*
    val runs = (1 to 3).map(_ => BenchSupport.once(spark, name, sfDir))
    println(f"[explain] $name min-of-3: ${runs.min}%.3f s (all: ${runs.map(r => f"$r%.3f").mkString(", ")})")
    spark.stop()
  }
}
