package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.frontend.SqliteCompat
import graft.queries.StackExchangeQueries
import graft.sources.StackExchange
import graft.testing.Comparator

/** The reference's six sqldf strings VERBATIM (copied character-for-
  * character from RDataFramesSQL.Rmd:74-82, 175-182, 288-299, 395-413,
  * 521-533, 612-628), executed through [[SqliteCompat]] and asserted
  * equal to the DSL front-end — so a user can paste the reference's own
  * SQL and get the reference's answers.
  *
  * Comparisons are multiset (order-insensitive): the verbatim texts
  * order only by their sort keys, so peer rows with equal keys land in
  * arbitrary order. Where SQLITE ITSELF is arbitrary — a bare-column
  * arg-max with a tied max — the comparison data is de-tied (one extra
  * 2020 vote), because there is no "right answer" to pin on a tie; every
  * LIMIT in the corpus is unreachable on this fixture (row counts below
  * 10), so truncation can't hide row differences either. */
class VerbatimSqlSpec extends SparkSpec {

  /** Fixture with the ex1 2020 arg-max tie broken (Q-eps gets a third
    * 2020 upvote): SQLite's bare-column pick is only well-defined on a
    * unique max, and the DSL's Title-asc tie-break is an authoring
    * convention the verbatim text knows nothing about. */
  lazy val data: StackExchange.Data = {
    val raw = StackExchange.readCsvDir(spark, "src/test/resources/stackexchange")
    import spark.implicits._
    val extraVote = Seq((15, 105, 2, "2020-03-17"))
      .toDF("Id", "PostId", "VoteTypeId", "CreationDate")
      .select(col("Id"), col("PostId"), col("VoteTypeId"), col("CreationDate"))
    val d = raw.copy(votes = raw.votes.unionByName(extraVote))
    d.register()
    d
  }

  private def assertSameRows(name: String, verbatim: DataFrame, dsl: DataFrame): Unit = {
    // verbatim texts write identifiers in SQLite's own casing (ID,
    // PositiveAnswerCount, ...) — align by position for the compare
    assert(verbatim.columns.length == dsl.columns.length,
      s"$name column count: ${verbatim.columns.mkString(",")} vs ${dsl.columns.mkString(",")}")
    assert(Comparator.equalUnordered(verbatim.toDF(dsl.columns.toSeq: _*), dsl),
      s"$name verbatim SQL != DSL")
  }

  test("ex1 verbatim: STRFTIME + bare-column arg-max + two-statement flow " +
       "(RDataFramesSQL.Rmd:74-82)") {
    data.register()
    val upvotes = SqliteCompat.sql(spark,
      """SELECT PostId, COUNT(*) AS Count, STRFTIME('%Y', Votes.CreationDate) AS Year
        |            FROM Votes WHERE VoteTypeId=2 GROUP BY PostId, Year""".stripMargin)
    // the R code assigns the first result to UpvotesPerYear and queries it
    // (sqldf copies the dataframe in); the temp view is the same move
    upvotes.createOrReplaceTempView("UpvotesPerYear")
    val out = SqliteCompat.sql(spark,
      """SELECT Posts.Title, UpVotesPerYear.Year, MAX(UpVotesPerYear.Count) AS Count
        |      FROM UpvotesPerYear
        |      JOIN Posts ON Posts.Id=UpVotesPerYear.PostId
        |      WHERE Posts.PostTypeId=1
        |      GROUP BY Year""".stripMargin)
    assertSameRows("ex1", out, StackExchangeQueries.ex1Dsl(data))
  }

  test("ex2 verbatim: multi-agg with bare columns incl. all-NULL favorite " +
       "groups (RDataFramesSQL.Rmd:175-182)") {
    data.register()
    val out = SqliteCompat.sql(spark,
      """SELECT Users.DisplayName, Users.Age, Users.Location, SUM(Posts.FavoriteCount) AS FavoriteTotal,
        |                Posts.Title AS MostFavoriteQuestion, MAX(Posts.FavoriteCount) AS MostFavoriteQuestionLikes
        |              FROM Posts JOIN Users ON Users.Id=Posts.OwnerUserId
        |              WHERE Posts.PostTypeId=1
        |              GROUP BY OwnerUserId
        |              ORDER BY FavoriteTotal DESC LIMIT 10""".stripMargin)
    assertSameRows("ex2", out, StackExchangeQueries.ex2Dsl(data))
  }

  test("ex3 verbatim: derived-table self-join (RDataFramesSQL.Rmd:288-299)") {
    data.register()
    val out = SqliteCompat.sql(spark,
      """SELECT Posts.ID, Posts.Title, Posts2.PositiveAnswerCount
        |              FROM Posts JOIN
        |              (
        |                SELECT Posts.ParentID, COUNT(*) AS PositiveAnswerCount
        |                FROM Posts
        |                WHERE Posts.PostTypeID=2 AND Posts.Score>0
        |                GROUP BY Posts.ParentID
        |              ) AS Posts2
        |              ON Posts.ID=Posts2.ParentID
        |              ORDER BY Posts2.PositiveAnswerCount DESC LIMIT 10""".stripMargin)
    assertSameRows("ex3",
      out.select(col("ID"), col("Title"), col("PositiveAnswerCount")),
      StackExchangeQueries.ex3Dsl(data))
  }

  test("ex4 verbatim: ==, QUestions typo, alias-in-WHERE, bare Id in the " +
       "inner aggregate (RDataFramesSQL.Rmd:395-413)") {
    data.register()
    val out = SqliteCompat.sql(spark,
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
        |              ORDER BY Difference DESC""".stripMargin)
    assertSameRows("ex4", out, StackExchangeQueries.ex4Dsl(data))
  }

  test("ex5 verbatim: composite-key join (RDataFramesSQL.Rmd:521-533)") {
    data.register()
    val out = SqliteCompat.sql(spark,
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
        |              LIMIT 10""".stripMargin)
    assertSameRows("ex5", out, StackExchangeQueries.ex5Dsl(data))
  }

  test("ex6 verbatim: IN-subquery + HAVING BETWEEN + DISTINCT " +
       "(RDataFramesSQL.Rmd:612-628)") {
    data.register()
    val out = SqliteCompat.sql(spark,
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
        |              JOIN Users ON ValuableBadges.UserId=Users.Id""".stripMargin)
    assertSameRows("ex6", out, StackExchangeQueries.ex6Dsl(data))
  }

  // ───────────────────────── unit-level pins ──────────────────────────

  test("strftime: %Y/%m/%d tokens, text output, NULL on malformed input") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT strftime('%Y', '2019-05-01') AS y,
        |       strftime('%Y-%m', '2019-05-01') AS ym,
        |       strftime('%d', '2019-05-01 12:30:00') AS d,
        |       strftime('%Y', 'not a date') AS bad""".stripMargin).collect().head
    assert(r.getString(0) == "2019")
    assert(r.getString(1) == "2019-05")
    assert(r.getString(2) == "01")
    assert(r.isNullAt(3))
    assert(GraftExtensions.strftimeToJavaPattern("%Y-%m-%dT%H:%M:%S") ==
      "yyyy-MM-dd'T'HH:mm:ss")
  }

  test("strftime: literal runs become one quoted section; embedded " +
       "quotes escaped (ADVICE r3)") {
    // one quoted run, not 'h''o''u''r''s'
    assert(GraftExtensions.strftimeToJavaPattern("%H hours") == "HH' hours'")
    // a literal single quote doubles inside the quoted section
    assert(GraftExtensions.strftimeToJavaPattern("%d o'clock") == "dd' o''clock'")
    // %% joins the surrounding literal run
    assert(GraftExtensions.strftimeToJavaPattern("%Y %% done") == "yyyy' % done'")
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT strftime('%H hours', '2019-05-01 12:30:00') AS h,
        |       strftime('%d o''clock', '2019-05-01') AS oc""".stripMargin)
      .collect().head
    assert(r.getString(0) == "12 hours")
    assert(r.getString(1) == "01 o'clock")
  }

  test("strftime: computed tokens %w %W %s and pattern token %f " +
       "(values validated against C strftime; backlog item since r3)") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT strftime('%w', '2015-01-04') AS sun,
        |       strftime('%w', '2015-01-05') AS mon,
        |       strftime('%w', '2016-12-31') AS sat,
        |       strftime('%W', '2015-01-01') AS w00,
        |       strftime('%W', '2015-01-05') AS w01,
        |       strftime('%W', '2016-12-31') AS w52,
        |       strftime('%W', '2020-02-29') AS w08,
        |       strftime('%s', '1970-01-01 00:01:40') AS s100,
        |       strftime('%f', '2019-05-01 12:34:56.789') AS frac,
        |       strftime('%Y-%m-%d week %W day %w', '2017-01-02') AS mixed,
        |       strftime('%s', 'not a date') AS bad""".stripMargin).collect().head
    assert(r.getString(0) == "0" && r.getString(1) == "1" && r.getString(2) == "6")
    assert(r.getString(3) == "00" && r.getString(4) == "01")
    assert(r.getString(5) == "52" && r.getString(6) == "08")
    assert(r.getString(7) == "100")         // session tz is UTC
    assert(r.getString(8) == "56.789")
    assert(r.getString(9) == "2017-01-02 week 01 day 1")
    assert(r.isNullAt(10))                  // NULL propagates through concat
    // unsupported tokens still fail fast
    intercept[Exception] {
      spark.sql("SELECT strftime('%z', '2019-01-01')").collect()
    }
  }

  /** Small views for the rewrite specs: `sc_posts` has a unique max and
    * min Score per ParentId except group 3, whose only Score is NULL. */
  private def registerRewriteViews(): Unit = {
    import spark.implicits._
    Seq((1, 1, "a1", Option(5)), (2, 1, "a2", Option(9)), (3, 1, "a3", Option(1)),
      (4, 2, "b1", Option(7)), (5, 2, "b2", Option(3)), (6, 3, "c1", None))
      .toDF("Id", "ParentId", "Title", "Score").createOrReplaceTempView("sc_posts")
    Seq((1, 100, 10), (2, 60, 5), (3, 20, 1)).toDF("id", "x", "y")
      .createOrReplaceTempView("sc_a")
    Seq((1, 30), (2, 2), (3, 0)).toDF("id", "y").createOrReplaceTempView("sc_b")
    Seq((1, 1), (2, 3)).toDF("u", "v").createOrReplaceTempView("sc_c")
    Seq((1, 1), (2, 7), (3, 1)).toDF("k", "Diff").createOrReplaceTempView("sc_d")
  }

  /** `SqliteCompat` runs the SQLite text `in` to the rows Spark gives for
    * the hand-rewritten text. */
  private def assertRewrites(in: String, rewritten: String): Unit = {
    val got = SqliteCompat.sql(spark, in)
    val want = spark.sql(rewritten)
    assert(!want.isEmpty, s"vacuous input: $in")
    assert(got.columns.toSeq == want.columns.toSeq, s"columns of $in")
    assert(Comparator.equalUnordered(got, want), s"rows of $in")
  }

  /** `SqliteCompat` rejects `in` with the analyzer error Spark raises. */
  private def assertSameError(in: String): AnalysisException = {
    val want = intercept[AnalysisException](spark.sql(in))
    val got = intercept[AnalysisException](SqliteCompat.sql(spark, in))
    assert(got.getCondition == want.getCondition, s"${got.getMessage} for $in")
    got
  }

  test("bare-column rewrite: only non-grouped bare items wrapped, " +
       "subquery blocks handled independently") {
    registerRewriteViews()
    // grouped (qualified item vs bare key), aggregate and bare items
    assertRewrites(
      """SELECT p.Title, p.ParentId, MAX(p.Score) AS Score
        |FROM sc_posts p WHERE p.Id > 0 GROUP BY ParentId""".stripMargin,
      """SELECT COALESCE(MAX_BY(p.Title, p.Score), ANY_VALUE(p.Title)) AS Title,
        |p.ParentId, MAX(p.Score) AS Score
        |FROM sc_posts p WHERE p.Id > 0 GROUP BY ParentId""".stripMargin)
    // a MIN aggregate drives MIN_BY; an item grouped by its alias stays
    assertRewrites(
      """SELECT p.ParentId AS Parent, p.Title AS t, MIN(p.Score) AS Score
        |FROM sc_posts p GROUP BY Parent""".stripMargin,
      """SELECT p.ParentId AS Parent,
        |COALESCE(MIN_BY(p.Title, p.Score), ANY_VALUE(p.Title)) AS t,
        |MIN(p.Score) AS Score FROM sc_posts p GROUP BY Parent""".stripMargin)
    val argMax = "COALESCE(MAX_BY(Title, Score), ANY_VALUE(Title)) AS Title"
    // a paren inside a comment or a quoted name is not SQL structure
    assertRewrites(
      """SELECT Title, MAX(Score) AS Best -- best (answer
        |FROM sc_posts GROUP BY ParentId""".stripMargin,
      s"SELECT $argMax, MAX(Score) AS Best FROM sc_posts GROUP BY ParentId")
    assertRewrites(
      "SELECT Title, MAX(Score) AS `best (score` FROM sc_posts GROUP BY ParentId",
      s"SELECT $argMax, MAX(Score) AS `best (score` FROM sc_posts GROUP BY ParentId")
    // a CTE body and an IN-subquery body are blocks of their own
    assertRewrites(
      """WITH best AS (SELECT ParentId, Title, MAX(Score) AS Best
        |FROM sc_posts GROUP BY ParentId) SELECT Title, Best FROM best""".stripMargin,
      s"""WITH best AS (SELECT ParentId, $argMax, MAX(Score) AS Best
        |FROM sc_posts GROUP BY ParentId) SELECT Title, Best FROM best""".stripMargin)
    assertRewrites(
      """SELECT Id FROM sc_posts WHERE (Title, Score) IN
        |(SELECT Title, MAX(Score) FROM sc_posts GROUP BY ParentId)""".stripMargin,
      s"""SELECT Id FROM sc_posts WHERE (Title, Score) IN
        |(SELECT $argMax, MAX(Score) FROM sc_posts GROUP BY ParentId)""".stripMargin)
    // no GROUP BY: not SQLite's arg-max form, Spark's error stands
    assertSameError("SELECT Title, MAX(Score) AS Score FROM sc_posts")
  }

  test("alias-in-WHERE rewrite: inlines the definition, leaves ORDER BY " +
       "and qualified names alone") {
    registerRewriteViews()
    assertRewrites(
      """SELECT a.x - b.y AS Diff FROM sc_a a JOIN sc_b b ON a.id=b.id
        |WHERE Diff > 50 ORDER BY Diff DESC""".stripMargin,
      """SELECT a.x - b.y AS Diff FROM sc_a a JOIN sc_b b ON a.id=b.id
        |WHERE (a.x - b.y) > 50 ORDER BY Diff DESC""".stripMargin)
    // a qualified name is a column reference, never a select alias
    assertSameError(
      """SELECT a.x - b.y AS Diff FROM sc_a a JOIN sc_b b ON a.id=b.id
        |WHERE a.Diff > 50""".stripMargin)
  }

  test("alias-in-WHERE rewrite: confined to the defining select scope — " +
       "a sibling subquery's WHERE with the same name as a real column " +
       "is untouched (ADVICE r3)") {
    registerRewriteViews()
    assertRewrites(
      """SELECT t.id, t.Diff, u.k FROM
        |(SELECT a.id, a.x - a.y AS Diff FROM sc_a a WHERE Diff > 50) t
        |JOIN (SELECT k, Diff FROM sc_d WHERE Diff = 1) u ON t.id = u.k""".stripMargin,
      """SELECT t.id, t.Diff, u.k FROM
        |(SELECT a.id, a.x - a.y AS Diff FROM sc_a a WHERE (a.x - a.y) > 50) t
        |JOIN (SELECT k, Diff FROM sc_d WHERE Diff = 1) u ON t.id = u.k""".stripMargin)
  }

  test("alias-in-WHERE rewrite: clamped at set operators — a sibling " +
       "UNION branch's definition never crosses into this branch's " +
       "WHERE (ADVICE r6)") {
    registerRewriteViews()
    // SQLite resolves aliases per branch and rejects this query: the
    // analyzer's own error surfaces instead of a borrowed definition
    val err = assertSameError(
      """SELECT a.x - a.y AS Diff FROM sc_a a
        |UNION
        |SELECT c.u FROM sc_c c WHERE Diff > 5""".stripMargin)
    assert(err.getCondition.startsWith("UNRESOLVED_COLUMN"), err.getMessage)
    assert(err.getMessage.contains("Diff"), err.getMessage)
    // when several branches define the same alias, each WHERE takes its
    // OWN branch's definition
    assertRewrites(
      """SELECT a.x - a.y AS Diff FROM sc_a a WHERE Diff > 1
        |UNION ALL
        |SELECT c.u + c.v AS Diff FROM sc_c c WHERE Diff > 2""".stripMargin,
      """SELECT a.x - a.y AS Diff FROM sc_a a WHERE (a.x - a.y) > 1
        |UNION ALL
        |SELECT c.u + c.v AS Diff FROM sc_c c WHERE (c.u + c.v) > 2""".stripMargin)
  }
}
