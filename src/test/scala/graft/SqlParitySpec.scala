package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.queries.RelationalQueries
import graft.sources.Tables
import graft.testing.Comparator

/** The reference's ≥2-independent-paths methodology applied to the
  * driver-gate queries: every q1–q6 runs through the DataFrame DSL AND a
  * Spark-SQL text over temp views, and the two plans must return
  * identical ordered rows. (The third path, the external DuckDB oracle,
  * is the driver's t2 gate / tools/selfcheck.py.) */
class SqlParitySpec extends SparkSpec {

  test("q1–q6: spark.sql front-end returns identical rows to the DSL") {
    Tables.registerAll(spark, sfDir)
    RelationalQueries.sparkSql.keys.toSeq.sorted.foreach { name =>
      val viaSql = spark.sql(RelationalQueries.sparkSql(name))
      val viaDsl = RelationalQueries.queries(name)(spark, sfDir)
      assert(viaSql.columns.sameElements(viaDsl.columns),
        s"$name columns: ${viaSql.columns.mkString(",")} vs ${viaDsl.columns.mkString(",")}")
      assert(Comparator.equalOrdered(viaSql, viaDsl), s"$name rows differ")
    }
  }

  test("sparkSql and oracleSql cover exactly the same queries") {
    assert(RelationalQueries.sparkSql.keySet == RelationalQueries.oracleSql.keySet)
  }

  /** A copy of an oracle fragment can drift from its siblings without
    * any check noticing, so each fragment is written once and composed.
    * Every run of [[Run]] consecutive lines of the triple-quoted literals
    * in the query sources (margin and outer whitespace stripped, blank
    * lines dropped) holding at least [[MinChars]] non-space characters
    * must appear once. The Spark-SQL dialect twins stay out: they are
    * the engine's second, independent path and must not share text with
    * the oracle. */
  private val Run = 6
  private val MinChars = 120

  test("no run of oracle SQL lines is written twice in the query sources") {
    val dir = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(dir), s"no source tree at ${dir.toAbsolutePath}")
    val twins = Set("RelationalQueries.scala", "StackExchangeQueries.scala")
    val literal = "(?s)\"\"\"(.*?)\"\"\"".r
    val files = Files.list(dir).iterator().asScala.toSeq
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".scala") && !twins(n)).sorted
    val windows = for {
      name <- files
      src = new String(Files.readAllBytes(dir.resolve(name)), "UTF-8")
      m <- literal.findAllMatchIn(src).toSeq
      first = src.substring(0, m.start).count(_ == '\n') + 1
      lines = m.group(1).split("\n", -1).toSeq.zipWithIndex
        .map { case (l, i) => (first + i, l.trim.stripPrefix("|").trim) }
        .filter(_._2.nonEmpty)
      w <- lines.sliding(Run).toSeq
      if w.size == Run && w.map(_._2.count(_ != ' ')).sum >= MinChars
    } yield w.map(_._2) -> s"$name:${w.head._1}"
    val repeats = windows.groupBy(_._1).values.filter(_.size > 1)
      .map(_.map(_._2).mkString(" = ")).toSeq.sorted
    assert(repeats.isEmpty,
      s"${repeats.size} oracle SQL runs written twice: ${repeats.mkString("; ")}")
  }
}
