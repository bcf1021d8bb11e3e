package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The regression guard's baseline pick: a capture recorded at another
  * core count must not become the baseline, the same rule as an SF
  * mismatch. */
class BenchBaselineSpec extends AnyFunSuite {

  test("baseline pick rejects a capture stamped with a different cpus; " +
       "unstamped captures stay eligible") {
    val dir = Files.createTempDirectory("bench-baseline")
    def capture(name: String, stamp: String, q1: Double): java.io.File = {
      val f = dir.resolve(name).toFile
      Files.write(f.toPath,
        (s"""{"metric":"total","value":1.0,"unit":"sec",""" +
          s""""sf":"/data/sf0.1"$stamp,"queries":{"q1":$q1}}""")
          .getBytes("UTF-8"))
      f
    }
    val c8 = capture("c8.json", ""","cpus":8""", 0.8)
    val c32 = capture("c32.json", ""","cpus": 32""", 3.2)
    val bare = capture("bare.json", "", 1.0)
    try {
      for (order <- Seq(Seq(c8, c32), Seq(c32, c8))) {
        assert(Bench.firstMatchingBaseline(order, "/data/sf0.1", "32") ==
          Some(("c32.json", Map("q1" -> 3.2))))
        assert(Bench.firstMatchingBaseline(order, "/data/sf0.1", "8") ==
          Some(("c8.json", Map("q1" -> 0.8))))
      }
      assert(Bench.firstMatchingBaseline(Seq(c8), "/data/sf0.1", "32").isEmpty)
      assert(Bench.firstMatchingBaseline(Seq(c8, bare), "/data/sf0.1", "32")
        .map(_._1) == Some("bare.json"))
      assert(Bench.firstMatchingBaseline(Seq(c32), "/data/sf1", "32").isEmpty)
    } finally {
      Seq(c8, c32, bare).foreach(_.delete())
      Files.delete(dir)
    }
  }
}
