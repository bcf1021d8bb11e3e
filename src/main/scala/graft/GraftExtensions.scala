package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Concat, DateFormatClass, DayOfWeek, DayOfYear, EvalMode, Expression, ExpressionInfo, IntegralDivide, Literal, Pmod, StringLPad, Subtract, UnixSeconds}
import org.apache.spark.sql.types.{StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{AHashChunks, BigramPolyBuckets, CosineSim, MinHashSig, RollingHash, SimHash64, SlidingMin, ThumbHex, WordShingleHashes}

/** Session-extension wiring (SURVEY.md §7 custom-op ladder, step (c)):
  * registers graft's native expressions with the SQL function registry so
  * the SQL front-end can call them like built-ins:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   spark.sql("SELECT cosine_sim(a.embedding, b.embedding) FROM ...")
  *
  * Also registrable post-hoc on an existing session via [[GraftExtensions
  * .register]] (used by the test harness, whose session is shared).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getCanonicalName, name), build))
    }
}

object GraftExtensions {

  private def buildCosineSim(children: Seq[Expression]): Expression = {
    require(children.length == 2, "cosine_sim expects exactly 2 arguments")
    CosineSim(children.head, children(1))
  }

  /** Plan-time int from a foldable second argument (window sizes are part
    * of the expression, not runtime values). */
  private def literalWindow(fn: String, e: Expression): Int = e match {
    case x if x.foldable => x.eval() match {
      case i: Int => i
      case l: Long if l >= 1 && l <= Int.MaxValue => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn window must be a positive int literal, got $other")
    }
    case _ => throw new IllegalArgumentException(s"$fn window must be a literal")
  }

  private def buildRollingHash(children: Seq[Expression]): Expression = {
    require(children.length == 2, "rolling_hash expects exactly 2 arguments")
    RollingHash(children.head, literalWindow("rolling_hash", children(1)))
  }

  private def buildSlidingMin(children: Seq[Expression]): Expression = {
    require(children.length == 2, "sliding_min expects exactly 2 arguments")
    SlidingMin(children.head, literalWindow("sliding_min", children(1)))
  }

  private def buildWordShingleHashes(children: Seq[Expression]): Expression = {
    require(children.length == 2, "word_shingle_hashes expects exactly 2 arguments")
    WordShingleHashes(children.head, literalWindow("word_shingle_hashes", children(1)))
  }

  private def literalLong(fn: String, e: Expression): Long = e match {
    case x if x.foldable => x.eval() match {
      case i: Int  => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"$fn argument must be an integer literal, got $other")
    }
    case _ => throw new IllegalArgumentException(s"$fn argument must be a literal")
  }

  private def buildBigramPolyBuckets(children: Seq[Expression]): Expression = {
    require(children.length == 3,
      "bigram_poly_buckets expects exactly (text, modulus, buckets)")
    BigramPolyBuckets(children.head,
      literalLong("bigram_poly_buckets", children(1)),
      literalWindow("bigram_poly_buckets", children(2)))
  }

  private def buildMinhashSig(children: Seq[Expression]): Expression = {
    require(children.length == 1, "minhash_sig expects exactly 1 argument")
    MinHashSig(children.head)
  }

  private def buildSimhash64(children: Seq[Expression]): Expression = {
    require(children.length == 1, "simhash64 expects exactly 1 argument")
    SimHash64(children.head)
  }

  private def buildAhashChunks(children: Seq[Expression]): Expression = {
    require(children.length == 1, "ahash_chunks expects exactly 1 argument")
    AHashChunks(children.head)
  }

  private def buildThumbHex(children: Seq[Expression]): Expression = {
    require(children.length == 1, "thumb_hex expects exactly 1 argument")
    ThumbHex(children.head)
  }

  /** SQLite `STRFTIME(format, datetime)` (RDataFramesSQL.Rmd:75): the
    * format tokens are translated to a Java datetime pattern and the
    * whole call becomes `date_format(try_cast(ts AS timestamp), pattern)`
    * — TEXT out like SQLite, NULL for unparseable input like SQLite
    * (TRY cast), evaluated by codegen'd built-ins. Format must be a
    * literal (it is part of the expression, as in every sane call).
    *
    * Three SQLite tokens have no Java-pattern equivalent and are computed
    * as expressions instead — the call then becomes a `concat` of
    * date_format chunks and computed parts (still all codegen'd
    * built-ins; `concat` is null-intolerant, so the NULL-on-malformed
    * contract is preserved):
    *
    *   %w  weekday 0-6, Sunday = 0      → dayofweek(ts) - 1
    *   %W  Monday-first week of year,   → (yday0 + 7 - mondayDow0) div 7
    *       00-53 (days before the first   zero-padded to 2 (the C
    *       Monday are week 00)            strftime definition)
    *   %s  unix epoch seconds           → unix_seconds(ts)
    */
  private def buildStrftime(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      "strftime expects exactly (format, datetime); modifiers unsupported")
    val fmtExpr = children.head
    require(fmtExpr.foldable, "strftime format must be a literal")
    val fmt = fmtExpr.eval() match {
      case s: UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"strftime format must be a string literal, got $other")
    }
    val ts = Cast(children(1), TimestampType, None, EvalMode.TRY)
    def pattern(p: String): Expression = DateFormatClass(ts,
      Literal(UTF8String.fromString(strftimeToJavaPattern(p)), StringType))
    strftimeSegments(fmt) match {
      case Nil            => pattern("")
      case Left(p) :: Nil => pattern(p) // pure-pattern fast path: one date_format
      case segs =>
        Concat(segs.map {
          case Left(p)    => pattern(p)
          case Right('w') => Cast(Subtract(DayOfWeek(ts), Literal(1)), StringType)
          case Right('W') =>
            // mondayDow0: 0 = Monday .. 6 = Sunday (Spark dayofweek is
            // 1 = Sunday); validated against C strftime across year
            // starts, leap days, and year ends in VerbatimSqlSpec
            val mondayDow0 = Pmod(Add(DayOfWeek(ts), Literal(5)), Literal(7))
            val week = new IntegralDivide(
              Subtract(Add(DayOfYear(ts), Literal(6)), mondayDow0), Literal(7))
            StringLPad(Cast(week, StringType), Literal(2),
              Literal(UTF8String.fromString("0"), StringType))
          case Right(_)   => Cast(UnixSeconds(ts), StringType) // 's'
        })
    }
  }

  /** Tokens computed as expressions, not pattern text (see
    * [[buildStrftime]]). */
  private val ComputedTokens = Set('w', 'W', 's')

  /** Split a format into pattern chunks (Left) and computed tokens
    * (Right). `%%`, `%f`, and unknown tokens stay inside chunks for
    * [[strftimeToJavaPattern]] to translate or reject; a trailing lone
    * `%` stays literal, matching the pattern translator. */
  private def strftimeSegments(fmt: String): List[Either[String, Char]] = {
    val out = scala.collection.mutable.ListBuffer[Either[String, Char]]()
    val chunk = new StringBuilder
    def flush(): Unit =
      if (chunk.nonEmpty) { out += Left(chunk.toString); chunk.clear() }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        if (ComputedTokens(fmt.charAt(i + 1))) { flush(); out += Right(fmt.charAt(i + 1)) }
        else { chunk += '%'; chunk += fmt.charAt(i + 1) }
        i += 2
      } else {
        chunk += fmt.charAt(i)
        i += 1
      }
    }
    flush()
    out.toList
  }

  /** Translate SQLite strftime tokens to a Java datetime pattern.
    * Literal text between tokens is accumulated into ONE quoted section
    * per run (quoting letters one at a time would turn 'hours' into
    * 'h''o''u''r''s', where the doubled quotes read back as literal
    * quote characters); embedded single quotes are doubled, the quoted
    * section's escape. Runs with no letters or quotes stay bare.
    * Unsupported tokens fail fast. */
  private[graft] def strftimeToJavaPattern(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(c => c.isLetter || c == '\'')) {
        out += '\''
        out ++= s.replace("'", "''")
        out += '\''
      } else out ++= s
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => flush(); out ++= "yyyy"
          case 'm' => flush(); out ++= "MM"
          case 'd' => flush(); out ++= "dd"
          case 'H' => flush(); out ++= "HH"
          case 'M' => flush(); out ++= "mm"
          case 'S' => flush(); out ++= "ss"
          case 'f' => flush(); out ++= "ss.SSS" // SQLite: SS.SSS
          case 'j' => flush(); out ++= "DDD"
          case '%' => lit += '%'
          case t => throw new IllegalArgumentException(
            s"strftime token %$t is not supported")
        }
        i += 2
      } else {
        lit += c
        i += 1
      }
    }
    flush()
    out.toString
  }

  /** Every SQL function graft registers: (name, expression class the
    * function info names, builder). [[GraftExtensions.apply]] and
    * [[register]] both walk this one table. */
  private val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSim], buildCosineSim),
    ("rolling_hash", classOf[RollingHash], buildRollingHash),
    ("sliding_min", classOf[SlidingMin], buildSlidingMin),
    ("word_shingle_hashes", classOf[WordShingleHashes], buildWordShingleHashes),
    ("bigram_poly_buckets", classOf[BigramPolyBuckets], buildBigramPolyBuckets),
    ("minhash_sig", classOf[MinHashSig], buildMinhashSig),
    ("simhash64", classOf[SimHash64], buildSimhash64),
    ("ahash_chunks", classOf[AHashChunks], buildAhashChunks),
    ("thumb_hex", classOf[ThumbHex], buildThumbHex),
    ("strftime", classOf[DateFormatClass], buildStrftime))

  /** Register on an already-built session (temp-function registry). */
  def register(s: org.apache.spark.sql.SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    Functions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
