package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.CheckpointDirs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{Dedup, TextAnalysis}

/** The one materialization rule: `Materialize.truncate`'s verb follows the
  * master and the checkpoint dir, a truncated frame outlives its blocks
  * once a dir is set, and no other main source pins or releases a frame. */
class MaterializeSpec extends SparkSpec {

  test("truncate's verb: localCheckpoint only under a local master with no " +
       "checkpoint dir, a reliable checkpoint wherever a dir is set, and a " +
       "loud failure naming setCheckpointDir on a cluster without one") {
    val dir = Some("/ckpt")
    for (m <- Seq("local", "local[4]")) {
      assert(Materialize.truncateVerb(m, None) == "localCheckpoint", m)
      assert(Materialize.truncateVerb(m, dir) == "checkpoint", m)
    }
    for (m <- Seq("spark://h:7077", "local-cluster[2,1,1024]")) {
      assert(Materialize.truncateVerb(m, dir) == "checkpoint", m)
      val ex = intercept[IllegalStateException](Materialize.truncateVerb(m, None))
      assert(ex.getMessage.contains("SparkContext.setCheckpointDir"), ex.getMessage)
    }
  }

  private val Pinning = Seq(
    "localCheckpoint", ".checkpoint(", ".cache()", ".persist(", ".unpersist(")

  /** `src` with its line and (nested) block comments removed; string and
    * char literals are kept as code. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def copyTo(end: Int): Unit = { out ++= src.substring(i, end); i = end }
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while ({
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
          depth > 0 && i < src.length
        }) ()
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        copyTo(if (end < 0) src.length else end + 3)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, src.length))
      } else if (at("'\\")) {
        copyTo(math.min(src.indexOf('\'', i + 2) + 1, src.length))
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        copyTo(i + 3)
      } else copyTo(i + 1)
    }
    out.toString
  }

  test("outside comments, only Materialize.scala checkpoints, caches, " +
       "persists or unpersists under src/main/scala") {
    assert(code("a.cache() // b.persist(\n/* c.unpersist( /* d */ */ \"e.persist(\"")
      == "a.cache() \n \"e.persist(\"")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    def uses(f: Path): Seq[String] = {
      val c = code(new String(Files.readAllBytes(f), "UTF-8"))
      Pinning.filter(c.contains)
    }
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f.getFileName.toString -> uses(f)).filter(_._2.nonEmpty).toMap
    assert(found.keySet == Set("Materialize.scala"),
      found.toSeq.sortBy(_._1)
        .map { case (f, ps) => s"$f: ${ps.mkString(", ")}" }.mkString("; "))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** What a lost executor leaves a local checkpoint: no blocks at all. */
  private def loseBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  private def withCheckpointDir[T](body: => T): T = {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-ckpt")
    sc.setCheckpointDir(dir.toString)
    try body
    finally {
      CheckpointDirs.clear(sc)
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }

  test("with a checkpoint dir, a truncated frame, the CC and BPE loops and " +
       "a SharedStage pin outlive the loss of every block; under the local " +
       "verb the frame throws") {
    import spark.implicits._
    val df = spark.range(200).select(col("id"), (col("id") * 3).as("v"))
    val want = rows(df)
    val local = Materialize.truncate(df, eager = true)
    loseBlocks()
    val ex = intercept[Exception](local.collect())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage)
        .contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), ex.toString)

    val path = (1L to 299L).map(i => (i, i + 1)).toDF("u", "v")
    val ccLocal = rows(Dedup.connectedComponents(path))
    val bpeLocal = rows(TextAnalysis.t24BpeMerges(spark, sfDir))
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    withCheckpointDir {
      val reliable = Materialize.truncate(df, eager = true)
      loseBlocks()
      assert(rows(reliable) == want)

      val cc = Dedup.connectedComponents(path)
      assert(rows(cc) == ccLocal)
      val bpe = TextAnalysis.t24BpeMerges(spark, sfDir)
      assert(rows(bpe) == bpeLocal)
      loseBlocks()
      assert(rows(cc) == ccLocal)
      assert(rows(bpe) == bpeLocal)

      var builds = 0
      def stage() = SharedStage.getOrCompute(spark, "/tmp/ms-dir", "ms_stage") {
        builds += 1
        df
      }
      try {
        assert(rows(stage()) == want)
        loseBlocks()
        assert(rows(stage()) == want)
        assert(builds == 1, "a reliable pin must be served, not rebuilt")
      } finally SharedStage.release(spark)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
