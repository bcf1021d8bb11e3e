package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The knob inventory: every quoted `graft.*` system property and
  * `GRAFT_*` / `SPARK_GRAFT_*` environment name the main sources read.
  * Adding a knob, or bringing a retired one back, takes an edit to this
  * list. */
class KnobInventorySpec extends AnyFunSuite {

  private val Expected = Set(
    // per-query seams
    "graft.d13.assignVia", "GRAFT_D13_ASSIGNVIA",
    "graft.d3.maxBandBucket",
    "graft.d4.maxChunkBucket",
    "graft.materialize", "SPARK_GRAFT_MATERIALIZE",
    "graft.s11.flatScanCap", "SPARK_GRAFT_S11_FLATSCANCAP",
    "graft.s11.via", "SPARK_GRAFT_S11_VIA",
    "graft.t24.rounds", "SPARK_GRAFT_T24_ROUNDS",
    "SPARK_GRAFT_X9_K",
    // session / harness
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_PROFILE_RULES",
    "SPARK_GRAFT_AB", "SPARK_GRAFT_AB_ROUNDS",
    "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_EXTRA_PASSES",
    "SPARK_GRAFT_PREV_BENCH",
    "SPARK_GRAFT_CALIB_ENVELOPE", "SPARK_GRAFT_CALIB_REF",
    "SPARK_GRAFT_CALIB_RETRIES", "SPARK_GRAFT_CALIB_SLEEP_MS",
    "SPARK_GRAFT_XCALIB_FACTOR", "SPARK_GRAFT_XCALIB_REF",
  )

  private val Knob =
    "\"((?:graft\\.[A-Za-z0-9_.]+)|(?:SPARK_)?GRAFT_[A-Z0-9_]+)\"".r

  test("the main sources read exactly the listed knob names") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def knobs(f: Path): Iterator[String] =
      Knob.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
        .map(_.group(1))
    val found = files.flatMap(knobs).toSet
    assert((found -- Expected).isEmpty,
      s"unlisted knobs: ${(found -- Expected).toSeq.sorted.mkString(", ")}")
    assert((Expected -- found).isEmpty,
      s"listed knobs no longer read: " +
        (Expected -- found).toSeq.sorted.mkString(", "))
  }
}
