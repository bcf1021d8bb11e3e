package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The regression guard's baseline pick: a capture recorded at another
  * core count or shuffle partition count must not become the baseline,
  * the same rule as an SF mismatch, and neither may a capture stamped
  * suspect. */
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
    val p4 = capture("p4.json", ""","cpus":8,"shuffle_partitions":4""", 0.4)
    val p8 = capture("p8.json", ""","cpus":8,"shuffle_partitions": 8""", 0.9)
    val shifted = capture("shifted.json",
      ""","cpus": 32,"regime": "regime-shift","suspect": true""", 4.0)
    val steady = capture("steady.json", ""","cpus":32,"suspect":false""", 3.0)
    def pick(cands: Seq[java.io.File], sf: String, cpus: String,
        partitions: String) =
      Bench.firstMatchingBaseline(cands, sf, cpus, partitions)
    try {
      for (order <- Seq(Seq(c8, c32), Seq(c32, c8))) {
        assert(pick(order, "/data/sf0.1", "32", "32") ==
          Some(("c32.json", Map("q1" -> 3.2))))
        assert(pick(order, "/data/sf0.1", "8", "8") ==
          Some(("c8.json", Map("q1" -> 0.8))))
      }
      assert(pick(Seq(c8), "/data/sf0.1", "32", "32").isEmpty)
      assert(pick(Seq(c8, bare), "/data/sf0.1", "32", "32")
        .map(_._1) == Some("bare.json"))
      assert(pick(Seq(c32), "/data/sf1", "32", "32").isEmpty)
      // partitions decoupled from cpus: only the matching count applies
      assert(pick(Seq(p4, p8), "/data/sf0.1", "8", "8").map(_._1) ==
        Some("p8.json"))
      assert(pick(Seq(p8, p4), "/data/sf0.1", "8", "4").map(_._1) ==
        Some("p4.json"))
      assert(pick(Seq(p4), "/data/sf0.1", "8", "8").isEmpty)
      // a suspect capture never becomes the baseline; suspect:false and
      // unstamped ones do
      assert(pick(Seq(shifted), "/data/sf0.1", "32", "32").isEmpty)
      assert(pick(Seq(shifted, steady), "/data/sf0.1", "32", "32")
        .map(_._1) == Some("steady.json"))
      assert(pick(Seq(shifted, bare), "/data/sf0.1", "32", "32")
        .map(_._1) == Some("bare.json"))
    } finally {
      Seq(c8, c32, bare, p4, p8, shifted, steady).foreach(_.delete())
      Files.delete(dir)
    }
  }
}
