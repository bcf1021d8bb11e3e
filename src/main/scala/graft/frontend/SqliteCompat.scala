package graft.frontend

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, UnresolvedWith}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.GraftExtensions

/** SQLite-dialect compatibility front-end: executes the reference's
  * verbatim `sqldf` query texts (RDataFramesSQL.Rmd:74-82, 175-182,
  * 288-299, 395-413, 521-533, 612-628) on Spark unchanged.
  *
  * Most of the dialect already overlaps: Spark accepts `==`
  * (Rmd:407), case-insensitive identifiers (the `QUestions` typo,
  * Rmd:410), `GROUP BY` on a select alias (`GROUP BY Year`, Rmd:76 —
  * `spark.sql.groupByAliases` is on by default), and `IN` subqueries.
  * Three SQLite-isms remain, handled here:
  *
  *   1. `STRFTIME(fmt, ts)` — registered as a real function by
  *      [[GraftExtensions]] (translated to `date_format(try_cast(ts as
  *      timestamp), javaPattern)`, which returns TEXT like SQLite).
  *   2. Bare columns alongside `MAX`/`MIN` in an aggregate (SQLite's
  *      arg-max extension, Rmd:77-81, 176-180, 398): on
  *      `MISSING_AGGREGATION`, every `Aggregate` with a one-argument
  *      `MAX`/`MIN` has each non-grouped bare column item (`col` or
  *      `col AS name`) replaced by
  *      `COALESCE(MAX_BY(col, arg), ANY_VALUE(col)) AS name`, where
  *      `arg` is the first such call's argument and an item counts as
  *      grouped when its last name part or its alias equals a grouping
  *      key's last name part, case-insensitively. Where SQLite's choice
  *      is well-defined (a unique non-NULL max row) this is identical;
  *      where SQLite returns an arbitrary row (ties, or every `arg` NULL
  *      in the group) this returns one conforming choice (the
  *      `ANY_VALUE` arm covers the all-NULL case, where a plain `MAX_BY`
  *      would yield NULL — a value SQLite can never produce for a
  *      non-NULL column).
  *   3. Alias references in `WHERE` (`WHERE Difference > 50`, Rmd:411 —
  *      a SQLite extension Spark rejects): on `UNRESOLVED_COLUMN`, the
  *      named alias's defining expression replaces its unqualified uses
  *      in the one `Filter` that holds the reported reference (matched
  *      by the error's query-context start index), directly below the
  *      `Project` or `Aggregate` that defines it. Each SELECT block and
  *      each set-operator branch is its own node, so a definition never
  *      leaks into a sibling subquery or another `UNION` branch (SQLite
  *      rejects a cross-branch reference too), and a block whose
  *      `WHERE` name is a real column keeps it, as SQLite resolves
  *      column-first.
  *
  * The text is parsed once by Spark's own parser, so comments, quoting
  * and nesting never confuse the rewrites; they act on the unresolved
  * plan, including `IN (SELECT …)` bodies and CTE bodies. Rewrites 2 and
  * 3 run ONLY after the analyzer rejects the plan (try-then-rewrite): a
  * query that resolves natively — e.g. a real column that shadows an
  * alias name, which SQLite also resolves column-first — is never
  * touched. After at most four rewrites, or as soon as a rewrite changes
  * nothing, the FIRST analyzer error is raised: the one the user's own
  * text caused.
  *
  * Scale note: this is a front-end concern only — the rewritten plan
  * reaches the same Catalyst pipeline as any other query, so pushdown /
  * pruning / AQE behave exactly as for the native dialect.
  */
object SqliteCompat {

  private val MaxRewrites = 4

  /** Execute a (possibly SQLite-dialect) SQL text. Registers the graft
    * function surface (strftime et al.) on the session first. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    GraftExtensions.register(spark)
    def attempt(plan: LogicalPlan, rewrites: Int,
        first: Option[AnalysisException]): DataFrame =
      try ColumnBridge.ofRows(spark, plan) catch {
        case e: AnalysisException =>
          val firstError = first.getOrElse(e)
          val next = if (rewrites < MaxRewrites) rewrite(plan, e) else plan
          if (next.fastEquals(plan)) throw firstError
          attempt(next, rewrites + 1, Some(firstError))
      }
    attempt(ColumnBridge.parse(spark, text), 0, None)
  }

  /** One rewrite keyed off the analyzer's complaint, applied to every
    * query block: the plan, its subquery expressions and its CTE bodies. */
  private def rewrite(plan: LogicalPlan, e: AnalysisException): LogicalPlan = {
    val rule: PartialFunction[LogicalPlan, LogicalPlan] =
      Option(e.getCondition).getOrElse("") match {
        case "MISSING_AGGREGATION" => { case a: Aggregate => argMaxBareColumns(a) }
        case c if c.startsWith("UNRESOLVED_COLUMN") => inlineAlias(
          e.getMessageParameters.get("objectName").stripPrefix("`").stripSuffix("`"),
          e.getQueryContext.headOption.map(_.startIndex))
        case _ => PartialFunction.empty
      }
    def everywhere(p: LogicalPlan): LogicalPlan = p.transformUpWithSubqueries(rule.orElse {
      // CTE bodies are inner children, which the transform does not visit
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (n, body, r) => (n, body.copy(child = everywhere(body.child)), r)
      })
    })
    everywhere(plan)
  }

  private def call(name: String, args: Expression*): Expression =
    UnresolvedFunction(name, args, isDistinct = false)

  /** SQLite's bare-column arg-max: the row on which the first MAX/MIN of
    * the select list is achieved supplies every non-grouped bare column. */
  private def argMaxBareColumns(a: Aggregate): Aggregate = {
    val keys = a.groupingExpressions.collect {
      case u: UnresolvedAttribute => u.nameParts.last.toLowerCase
    }.toSet
    val extreme = a.aggregateExpressions.iterator.flatMap(_.collectFirst {
      case f: UnresolvedFunction if f.arguments.size == 1 &&
        Set("MAX", "MIN")(f.nameParts.last.toUpperCase) => f
    }).nextOption()
    extreme.fold(a) { f =>
      val by = f.nameParts.last.toUpperCase + "_BY"
      def wrap(c: UnresolvedAttribute, name: String, item: NamedExpression) =
        if (keys(c.nameParts.last.toLowerCase) || keys(name.toLowerCase)) item
        else Alias(call("COALESCE", call(by, c, f.arguments.head),
          call("ANY_VALUE", c)), name)()
      a.copy(aggregateExpressions = a.aggregateExpressions.map {
        case c: UnresolvedAttribute => wrap(c, c.nameParts.last, c)
        case al @ Alias(c: UnresolvedAttribute, name) => wrap(c, name, al)
        case item => item
      })
    }
  }

  /** In the one block whose WHERE holds the reference the analyzer
    * reported (the attribute whose origin starts at `at`, the error's
    * query-context start index), replace the alias's unqualified uses in
    * that WHERE by the block's definition of `name`. Another block's
    * `WHERE name` resolved natively (a real column) and stays as it is. */
  private def inlineAlias(name: String,
      at: Option[Int]): PartialFunction[LogicalPlan, LogicalPlan] = {
    case p @ Project(list, f: Filter) if holds(f, at) =>
      p.copy(child = inlineAlias(name, list, f))
    case a @ Aggregate(_, list, f: Filter, _) if holds(f, at) =>
      a.copy(child = inlineAlias(name, list, f))
  }

  private def holds(f: Filter, at: Option[Int]): Boolean =
    at.isDefined && f.condition.exists {
      case u: UnresolvedAttribute => u.origin.startIndex == at
      case _ => false
    }

  private def inlineAlias(name: String, list: Seq[NamedExpression], f: Filter): Filter =
    list.collectFirst { case a: Alias if a.name.equalsIgnoreCase(name) => a.child }
      .fold(f) { definition =>
        f.copy(condition = f.condition.transformUp {
          case UnresolvedAttribute(Seq(n)) if n.equalsIgnoreCase(name) => definition
        })
      }
}
