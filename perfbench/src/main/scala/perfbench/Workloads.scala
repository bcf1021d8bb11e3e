package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.frontend.SqliteCompat
import graft.queries.StackExchangeQueries
import graft.sources.StackExchange

/** One kind of call the closed loop makes: `build` returns the DataFrame
  * (any eager jobs the program runs while building happen inside it). */
final case class Kind(name: String, build: () => DataFrame)

object Workloads {

  /** Catalog entries whose time is task compute in the `functions`
    * kernels, shuffle and materialized blocks; the `_skew` and `_zipf`
    * twins run their uniform twin's operators over uneven keys. `d6` and
    * `t24` plan a fresh query every round of an iterative loop. Listed
    * longest cold call first: the warm-up's order. */
  val curation: Seq[String] = Seq(
    "d13_semantic_dedup_skew", "d6_dup_clusters", "d12_delta_neardup",
    "d13_semantic_dedup", "t12_surprisal_zipf", "t12_surprisal", "t24_bpe_merges",
    "d3_minhash_lsh", "d4_simhash")

  val exerciseNames: Seq[String] = Seq("ex1", "ex2", "ex3", "ex4", "ex5", "ex6")

  val FrontEnds: Seq[String] = Seq("sqlite_compat", "spark_sql", "dsl")

  def catalog(spark: SparkSession, dir: String, names: Seq[String]): Seq[Kind] =
    names.map(n => Kind(n, () => SparkEntry.queries(n)(spark, dir)))

  /** Ex1–Ex6 through the three front-ends, over `data`'s registered views. */
  def exercises(spark: SparkSession, data: StackExchange.Data): Seq[Kind] =
    for (ex <- exerciseNames; fe <- FrontEnds) yield
      Kind(s"$ex/$fe", () => exercise(spark, data, ex, fe))

  def exercise(spark: SparkSession, data: StackExchange.Data, ex: String,
      frontEnd: String): DataFrame = frontEnd match {
    case "sqlite_compat" =>
      val stmts = Verbatim(ex)
      stmts.init.foreach { case (view, text) =>
        SqliteCompat.sql(spark, text).createOrReplaceTempView(view)
      }
      SqliteCompat.sql(spark, stmts.last._2)
    case "spark_sql" => StackExchangeQueries.sql(spark, ex)
    case "dsl"       => StackExchangeQueries.dsl(ex)(data)
  }

  /** The reference's six sqldf texts verbatim (RDataFramesSQL.Rmd:74-82,
    * 175-182, 288-299, 395-413, 521-533, 612-628). A statement whose
    * result the next one reads is paired with the view name the R code
    * assigns it to; the last statement's view name is unused. */
  object Verbatim {
    def apply(ex: String): Seq[(String, String)] = texts(ex)

    /** `ex`'s final statement without its trailing `LIMIT 10`. */
    def limitless(ex: String): String =
      texts(ex).last._2.replaceAll("(?s)\\s+LIMIT\\s+10\\s*$", "")
  }

  private val texts: Map[String, Seq[(String, String)]] = Map(
    "ex1" -> Seq(
      "UpvotesPerYear" ->
        """SELECT PostId, COUNT(*) AS Count, STRFTIME('%Y', Votes.CreationDate) AS Year
          |            FROM Votes WHERE VoteTypeId=2 GROUP BY PostId, Year""".stripMargin,
      "" ->
        """SELECT Posts.Title, UpVotesPerYear.Year, MAX(UpVotesPerYear.Count) AS Count
          |      FROM UpvotesPerYear
          |      JOIN Posts ON Posts.Id=UpVotesPerYear.PostId
          |      WHERE Posts.PostTypeId=1
          |      GROUP BY Year""".stripMargin),
    "ex2" -> Seq("" ->
      """SELECT Users.DisplayName, Users.Age, Users.Location, SUM(Posts.FavoriteCount) AS FavoriteTotal,
        |                Posts.Title AS MostFavoriteQuestion, MAX(Posts.FavoriteCount) AS MostFavoriteQuestionLikes
        |              FROM Posts JOIN Users ON Users.Id=Posts.OwnerUserId
        |              WHERE Posts.PostTypeId=1
        |              GROUP BY OwnerUserId
        |              ORDER BY FavoriteTotal DESC LIMIT 10""".stripMargin),
    "ex3" -> Seq("" ->
      """SELECT Posts.ID, Posts.Title, Posts2.PositiveAnswerCount
        |              FROM Posts JOIN
        |              (
        |                SELECT Posts.ParentID, COUNT(*) AS PositiveAnswerCount
        |                FROM Posts
        |                WHERE Posts.PostTypeID=2 AND Posts.Score>0
        |                GROUP BY Posts.ParentID
        |              ) AS Posts2
        |              ON Posts.ID=Posts2.ParentID
        |              ORDER BY Posts2.PositiveAnswerCount DESC LIMIT 10""".stripMargin),
    "ex4" -> Seq("" ->
      """SELECT Questions.Id, Questions.Title, BestAnswers.MaxScore,
        |                Posts.Score AS AcceptedScore, BestAnswers.MaxScore-Posts.Score AS Difference
        |              FROM
        |              (
        |                SELECT Id, ParentId, MAX(Score) AS MaxScore
        |                FROM Posts
        |                WHERE Posts.PostTypeID=2
        |                GROUP BY ParentID
        |              ) AS BestAnswers
        |              JOIN (
        |                SELECT * FROM Posts
        |                WHERE PostTypeId==1
        |              ) AS Questions
        |                ON Questions.Id=BestAnswers.ParentId
        |              JOIN Posts ON QUestions.AcceptedAnswerId=Posts.Id
        |              WHERE Difference > 50
        |              ORDER BY Difference DESC""".stripMargin),
    "ex5" -> Seq("" ->
      """SELECT Posts.Title, CmtTotScr.CommentsTotalScore
        |              FROM
        |              (
        |                SELECT PostId, UserId, SUM(Score) AS CommentsTotalScore
        |                FROM Comments
        |                GROUP BY PostId, UserId
        |              ) AS CmtTotScr
        |              JOIN Posts ON Posts.ID=CmtTotScr.PostId AND Posts.OwnerUserId=CmtTotScr.UserId
        |              WHERE Posts.PostTypeId=1
        |              ORDER BY CmtTotScr.CommentsTotalScore DESC
        |              LIMIT 10""".stripMargin),
    "ex6" -> Seq("" ->
      """SELECT DISTINCT Users.Id, Users.DisplayName, Users.Reputation, Users.Age, Users.Location
        |              FROM
        |              (
        |                SELECT Name, UserId
        |                FROM Badges
        |                WHERE Name IN (
        |                  SELECT Name
        |                  FROM Badges
        |                  WHERE Class=1
        |                  GROUP BY Name
        |                  HAVING COUNT(*) BETWEEN 2 AND 10
        |                )
        |                AND Class=1
        |              ) AS ValuableBadges
        |              JOIN Users ON ValuableBadges.UserId=Users.Id""".stripMargin))
}
