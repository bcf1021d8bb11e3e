package graft.frontend

import scala.util.matching.Regex

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

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
  *      arg-max extension, Rmd:77-81, 176-180, 398): rewritten to
  *      `COALESCE(MAX_BY(col, arg), ANY_VALUE(col)) AS name`. Where
  *      SQLite's choice is well-defined (a unique non-NULL max row) this
  *      is identical; where SQLite returns an arbitrary row (ties, or
  *      every `arg` NULL in the group) this returns one conforming
  *      choice (the `ANY_VALUE` arm covers the all-NULL case, where a
  *      plain `MAX_BY` would yield NULL — a value SQLite can never
  *      produce for a non-NULL column).
  *   3. Alias references in `WHERE` (`WHERE Difference > 50`, Rmd:411 —
  *      a SQLite extension Spark rejects): the alias's defining
  *      expression is inlined into the WHERE clause.
  *
  * Rewrites 2 and 3 are applied ONLY after Spark's analyzer rejects the
  * original text (try-then-rewrite): a query that resolves natively —
  * e.g. a real column that shadows an alias name, which SQLite also
  * resolves column-first — is never touched. The rewriting is textual
  * but paren-depth- and string-literal-aware; anything it cannot
  * confidently fix re-throws the ORIGINAL analyzer error.
  *
  * Scale note: this is a front-end concern only — the rewritten text
  * reaches the same Catalyst pipeline as any other query, so pushdown /
  * pruning / AQE behave exactly as for the native dialect.
  */
object SqliteCompat {

  /** Execute a (possibly SQLite-dialect) SQL text. Registers the graft
    * function surface (strftime et al.) on the session first. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    GraftExtensions.register(spark)
    var t = text
    var attempts = 0
    while (attempts < 4) {
      try {
        return spark.sql(t)
      } catch {
        case e: AnalysisException =>
          rewriteOnce(t, e) match {
            case Some(next) if next != t => t = next; attempts += 1
            case _ => throw e
          }
      }
    }
    spark.sql(t)
  }

  /** One rewrite step keyed off the analyzer's complaint. */
  private def rewriteOnce(t: String, e: AnalysisException): Option[String] = {
    val msg = Option(e.getMessage).getOrElse("")
    if (msg.contains("MISSING_AGGREGATION")) {
      Some(rewriteBareAggColumns(t))
    } else if (msg.contains("UNRESOLVED_COLUMN")) {
      // inline the first WHERE-referenced select alias the message names
      aliasDefs(t).collectFirst {
        case (name, _) if msg.contains(s"`$name`") => rewriteAliasInWhere(t, name)
      }
    } else None
  }

  // ───────────────────────── text scanning utilities ──────────────────

  /** Copy of the text with single-quoted string contents blanked, so
    * keyword/paren scans can't be fooled by literals. Same length as the
    * input — positions carry over. */
  private[graft] def shadowOf(t: String): String = {
    val a = t.toCharArray
    var i = 0; var inStr = false
    while (i < a.length) {
      if (inStr) { if (a(i) == '\'') inStr = false else a(i) = ' ' }
      else if (a(i) == '\'') inStr = true
      i += 1
    }
    new String(a)
  }

  /** depth(i) = parens opened minus closed in chars [0, i). */
  private def depths(sh: String): Array[Int] = {
    val d = new Array[Int](sh.length + 1)
    var i = 0
    while (i < sh.length) {
      d(i + 1) = d(i) + (sh(i) match { case '(' => 1; case ')' => -1; case _ => 0 })
      i += 1
    }
    d
  }

  private def matches(sh: String, re: Regex): List[Regex.Match] =
    re.findAllMatchIn(sh).toList

  /** Positions where `re` matches at paren depth `d`, within [from, to). */
  private def matchesAtDepth(sh: String, dep: Array[Int], re: Regex,
      d: Int, from: Int, to: Int): List[Regex.Match] =
    matches(sh, re).filter(m => m.start >= from && m.start < to && dep(m.start) == d)

  /** Split [from, to) at top-level (depth d) commas; returns item spans. */
  private def splitItems(sh: String, dep: Array[Int], d: Int,
      from: Int, to: Int): List[(Int, Int)] = {
    val commas = (from until to).filter(i => sh(i) == ',' && dep(i) == d).toList
    val starts = from :: commas.map(_ + 1)
    val ends = commas ::: List(to)
    starts.zip(ends)
  }

  private val SelectRe = "(?i)\\bSELECT\\b".r
  private val FromRe = "(?i)\\bFROM\\b".r
  private val GroupByRe = "(?i)\\bGROUP\\s+BY\\b".r
  private val AfterGroupRe = "(?i)\\b(HAVING|ORDER|LIMIT|WINDOW|UNION|INTERSECT|EXCEPT)\\b".r
  private val WhereRe = "(?i)\\bWHERE\\b".r
  private val AfterWhereRe = "(?i)\\b(GROUP|ORDER|HAVING|LIMIT|WINDOW|UNION|INTERSECT|EXCEPT)\\b".r
  /** Set operators split same-depth text into independent SELECT branches
    * (no parens required), so every same-depth scan must clamp at them:
    * SQLite resolves aliases per branch, never across a UNION. */
  private val SetOpRe = "(?i)\\b(UNION|INTERSECT|EXCEPT)\\b".r
  private val BareItemRe =
    "(?s)^\\s*([A-Za-z_][\\w]*(?:\\.[A-Za-z_][\\w]*)*)\\s*(?:(?i:AS)\\s+([A-Za-z_][\\w]*))?\\s*$".r
  private val AggRe = "(?i)\\b(MAX|MIN)\\s*\\(".r
  private val AliasDefRe = "(?i)\\bAS\\s+([A-Za-z_][\\w]*)".r

  /** End of the scope opened at depth `d` from `from`: the first position
    * whose depth drops below `d`, else text end. */
  private def scopeEnd(dep: Array[Int], d: Int, from: Int): Int = {
    var i = from
    while (i < dep.length - 1 && dep(i) >= d) i += 1
    i
  }

  // ───────────── rewrite 2: SQLite bare-column arg-max ────────────────

  /** For every SELECT block that has a GROUP BY and a MAX/MIN aggregate
    * in its select list, wrap each bare (non-grouped, non-aggregate)
    * column item as `COALESCE(MAX_BY(col, arg), ANY_VALUE(col)) AS name`
    * — SQLite's documented bare-column semantics ("the row on which the
    * max is achieved"). Items containing subqueries are left alone. */
  private[graft] def rewriteBareAggColumns(t: String): String = {
    val sh = shadowOf(t)
    val dep = depths(sh)
    case class Edit(start: Int, end: Int, replacement: String)
    val edits = scala.collection.mutable.ListBuffer[Edit]()

    for (sel <- matches(sh, SelectRe)) {
      val d = dep(sel.start)
      // clamp the block at the next same-depth set operator: a UNION
      // branch must not borrow the NEXT branch's GROUP BY for its own
      // bare-column decisions
      val blockEnd0 = scopeEnd(dep, d, sel.end)
      val blockEnd = matchesAtDepth(sh, dep, SetOpRe, d, sel.end, blockEnd0)
        .headOption.map(_.start).getOrElse(blockEnd0)
      matchesAtDepth(sh, dep, FromRe, d, sel.end, blockEnd).headOption.foreach { from =>
        val listStart = sel.end
        val listEnd = from.start
        // the select list must not contain a deeper SELECT that ends after
        // listEnd (impossible — parens close inside), so spans are safe
        matchesAtDepth(sh, dep, GroupByRe, d, from.end, blockEnd).headOption.foreach { gb =>
          val keysEnd = matchesAtDepth(sh, dep, AfterGroupRe, d, gb.end, blockEnd)
            .headOption.map(_.start).getOrElse(blockEnd)
          val keys = splitItems(sh, dep, d, gb.end, keysEnd)
            .map { case (a, b) => t.substring(a, b).trim }
            .filter(_.nonEmpty)
          def lastRaw(name: String): String =
            name.substring(name.lastIndexOf('.') + 1)
          def last(name: String): String = lastRaw(name).toLowerCase
          val keyNames = keys.flatMap(k => Seq(k.toLowerCase, last(k))).toSet

          val items = splitItems(sh, dep, d, listStart, listEnd)
          // the arg-max source: the FIRST MAX( or MIN( in the select list
          val aggItem = items.iterator.flatMap { case (a, b) =>
            AggRe.findFirstMatchIn(sh.substring(a, b)).map(m => (a, m))
          }.toSeq.headOption
          aggItem.foreach { case (itemStart, m) =>
            val fn = if (m.group(1).equalsIgnoreCase("MAX")) "MAX_BY" else "MIN_BY"
            val openPos = itemStart + m.end - 1 // position of '('
            // scopeEnd returns the position AFTER the closing paren
            val argEnd = scopeEnd(dep, dep(openPos) + 1, openPos + 1) - 1
            val arg = t.substring(openPos + 1, argEnd).trim

            for ((a, b) <- items) {
              val itemSh = sh.substring(a, b)
              if (SelectRe.findFirstIn(itemSh).isEmpty) {
                BareItemRe.findFirstMatchIn(itemSh).foreach { bm =>
                  val colRef = bm.group(1)
                  val alias = Option(bm.group(2))
                  val outName = alias.getOrElse(lastRaw(colRef))
                  val grouped = keyNames.contains(colRef.toLowerCase) ||
                    keyNames.contains(last(colRef)) ||
                    alias.exists(al => keyNames.contains(al.toLowerCase))
                  if (!grouped)
                    edits += Edit(a, b,
                      s" COALESCE($fn($colRef, $arg), ANY_VALUE($colRef)) AS $outName")
                }
              }
            }
          }
        }
      }
    }
    edits.sortBy(-_.start).foldLeft(t) { (acc, e) =>
      acc.substring(0, e.start) + e.replacement + acc.substring(e.end)
    }
  }

  // ───────────── rewrite 3: alias reference inside WHERE ──────────────

  /** All `expr AS name` alias definitions with their defining expression
    * and the position of the `AS` keyword, extracted by scanning back
    * from each `AS` to the nearest same-depth comma or SELECT keyword. */
  private[graft] def aliasDefsWithPos(t: String): List[(String, String, Int)] = {
    val sh = shadowOf(t)
    val dep = depths(sh)
    matches(sh, AliasDefRe).map { m =>
      val d = dep(m.start)
      val lastComma = ((m.start - 1) to 0 by -1)
        .find(i => sh(i) == ',' && dep(i) == d)
      val selBefore = matchesAtDepth(sh, dep, SelectRe, d, 0, m.start).lastOption
      val start = math.max(lastComma.map(_ + 1).getOrElse(0),
        selBefore.map(_.end).getOrElse(0))
      (m.group(1), t.substring(start, m.start).trim, m.start)
    }.filter(_._2.nonEmpty)
  }

  private[graft] def aliasDefs(t: String): List[(String, String)] =
    aliasDefsWithPos(t).map { case (n, e, _) => (n, e) }

  /** Start of the scope containing `from` at depth `d`: the position
    * after the last depth-drop below `d`, else text start. */
  private def scopeStart(dep: Array[Int], d: Int, from: Int): Int = {
    var i = from
    while (i > 0 && dep(i) >= d) i -= 1
    i
  }

  /** Inline `alias`'s defining expression at every standalone use of the
    * alias inside a WHERE clause (SQLite lets WHERE see select aliases;
    * Spark does not). Only WHERE clauses in the SAME select scope as the
    * alias's definition are touched — a sibling subquery whose WHERE uses
    * the same name as a real column resolves natively and must not be
    * rewritten; the region scan is clamped to that scope so a keyword in
    * a later sibling subquery can never mark this WHERE's end. */
  private[graft] def rewriteAliasInWhere(t: String, alias: String): String = {
    val defs = aliasDefsWithPos(t).collect {
      case (n, e, p) if n.equalsIgnoreCase(alias) => (e, p)
    }
    if (defs.isEmpty) return t // unknown alias: unchanged → caller rethrows
    val sh = shadowOf(t)
    val dep = depths(sh)
    val useRe = ("(?i)\\b" + Regex.quote(alias) + "\\b").r
    case class Edit(start: Int, end: Int, expr: String)
    val edits = scala.collection.mutable.ListBuffer[Edit]()
    for (w <- matches(sh, WhereRe)) {
      val d = dep(w.start)
      val pStart = scopeStart(dep, d, w.start)
      val pEnd = scopeEnd(dep, d, w.end)
      // clamp the paren scope at same-depth set operators: UNION/
      // INTERSECT/EXCEPT split it into independent SELECT branches, and
      // SQLite resolves aliases per branch — a definition in a SIBLING
      // branch must not satisfy this WHERE (defs.find failing leaves the
      // text unchanged, so the caller rethrows the analyzer error, which
      // is also what SQLite does for a cross-branch alias reference)
      val sStart = matchesAtDepth(sh, dep, SetOpRe, d, pStart, w.start)
        .lastOption.map(_.end).getOrElse(pStart)
      val sEnd = matchesAtDepth(sh, dep, SetOpRe, d, w.end, pEnd)
        .headOption.map(_.start).getOrElse(pEnd)
      // the alias must be defined in this WHERE's own select branch
      defs.find { case (_, p) => dep(p) == d && p >= sStart && p < sEnd }
        .foreach { case (expr, _) =>
          val regionEnd = matchesAtDepth(sh, dep, AfterWhereRe, d, w.end, sEnd)
            .headOption.map(_.start).getOrElse(sEnd)
          for (u <- useRe.findAllMatchIn(sh.substring(w.end, regionEnd))) {
            val abs = w.end + u.start
            val qualified = abs > 0 && sh(abs - 1) == '.'
            if (!qualified) edits += Edit(abs, w.end + u.end, expr)
          }
        }
    }
    edits.sortBy(-_.start).foldLeft(t) { (acc, e) =>
      acc.substring(0, e.start) + "(" + e.expr + ")" + acc.substring(e.end)
    }
  }
}
