package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The knob inventory: every quoted `graft.*` system property and
  * `GRAFT_*` / `SPARK_GRAFT_*` environment name the main sources read,
  * each read in one file only. Adding a knob, or bringing a retired one
  * back, takes an edit to this list. */
class KnobInventorySpec extends AnyFunSuite {

  private val Expected = Set(
    // per-query seams
    "graft.d13.assignVia", "GRAFT_D13_ASSIGNVIA",
    "graft.materialize", "SPARK_GRAFT_MATERIALIZE",
    "graft.s11.via", "SPARK_GRAFT_S11_VIA",
    "SPARK_GRAFT_X9_K",
    // session / harness: set by the verify recipe, the Tier-1 command
    // and the core-scaling probe
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_AB_ROUNDS",
  )

  private val Knob =
    "\"((?:graft\\.[A-Za-z0-9_.]+)|(?:SPARK_)?GRAFT_[A-Z0-9_]+)\"".r

  test("the main sources read exactly the listed knob names") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def knobs(f: Path): Set[String] =
      Knob.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
        .map(_.group(1)).toSet
    val readers = files.flatMap(f => knobs(f).map(_ -> f.getFileName))
      .groupMap(_._1)(_._2)
    val found = readers.keySet
    assert((found -- Expected).isEmpty,
      s"unlisted knobs: ${(found -- Expected).toSeq.sorted.mkString(", ")}")
    assert((Expected -- found).isEmpty,
      s"listed knobs no longer read: " +
        (Expected -- found).toSeq.sorted.mkString(", "))
    val shared = readers.filter(_._2.size > 1)
    assert(shared.isEmpty, "knobs read in more than one file: " +
      shared.toSeq.sortBy(_._1)
        .map { case (k, fs) => s"$k (${fs.sorted.mkString(", ")})" }
        .mkString("; "))
  }
}
