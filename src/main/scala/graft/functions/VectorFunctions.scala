package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Cosine similarity of two float vectors as a native Catalyst expression.
  *
  * Preference order for custom ops (SURVEY.md §7): built-ins first, then a
  * native `Expression`. The built-in composition for cosine is three
  * higher-order `aggregate(zip_with(...))` passes over the arrays; this
  * expression fuses dot product and both norms into ONE loop inside
  * whole-stage codegen — the hot inner kernel of the embedding dedup and
  * ANN queries, where it runs O(candidates) times over 64-float arrays.
  *
  * Determinism contract (for the DuckDB differential oracle): elements are
  * widened float→double (exact), each accumulator is summed left-to-right,
  * and the result is `dot / (sqrt(na) * sqrt(nb))` — the same IEEE
  * operation sequence the oracle SQL spells out with `list_sum` +
  * `list_transform`, so both engines produce bitwise-identical doubles.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private def elementNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  /** Always nullable: besides null inputs and null ELEMENTS, a LENGTH
    * MISMATCH between the two arrays poisons the result to NULL at
    * runtime (a truncated embedding must not yield a plausible-but-wrong
    * similarity), and lengths are unknowable statically. Nullability must
    * stay in sync with every codegen path that assigns `ev.isNull` —
    * declaring non-nullable would generate uncompilable code (that branch
    * never declares the variable) and the interpreter fallback's null
    * would be silently coerced to 0.0 by a non-nullable UnsafeProjection. */
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires array<float> inputs, got " +
          s"${left.dataType.sql} / ${right.dataType.sql}")
    }

  /** Null ELEMENTS and length-mismatched inputs poison the result to
    * NULL (a silently-zeroed slot or a truncated-prefix similarity would
    * be plausible-but-wrong with no error; DuckDB's list_transform
    * likewise propagates element NULLs). */
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n ||
        (0 until n).exists(i => a.isNullAt(i) || b.isNullAt(i))) null
    else CosineSim.cosine(a.toFloatArray(), b.toFloatArray())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: a bare `i`/`n` can collide with the enclosing
      // projection's variables inside whole-stage codegen
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val d = ctx.freshName("d")
      // the element check is dead code unless the array type admits null
      // elements (ev.isNull always exists — the expression is nullable)
      val elementCheck =
        if (elementNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      val compute =
        s"""
           |double $d = Math.sqrt($na) * Math.sqrt($nb);
           |${ev.value} = ($d == 0.0) ? 0.0 : $dot / $d;
         """.stripMargin
      val guardedCompute =
        if (elementNullable) s"if (!${ev.isNull}) { $compute }" else compute
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elementCheck
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  $guardedCompute
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The [[CosineSim]] arithmetic outside Catalyst, for the expression's
  * interpreted path and the two callers that score embeddings in a Scala
  * loop: d13's keep-first scan (`Dedup.d13Core`, which also runs d13b's
  * and p5/p6's pair stage) and the stream's admission
  * (`StreamingOps.semanticAdmit`). Both must score bit-identically to
  * `round(cosine_sim(a, b), 4)`, the composition the DuckDB oracles
  * replay. */
object CosineSim {

  /** The unrounded cosine of two equal-length vectors: the expression's
    * left-to-right double accumulation and sqrt-product denominator. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Spark's `round(c, 4)` on a double: HALF_UP over the double's decimal
    * string, NaN and infinities unchanged. */
  def round4(c: Double): Double =
    if (c.isNaN || c.isInfinite) c
    else BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The first `(id, rounded cosine)` of `buffer`, in its order, whose
    * `round(cosine_sim(e, emb), 4)` is ≥ `threshold` (a 4-place value).
    * A length mismatch is SQL NULL and never qualifies; a NaN cosine
    * does, as Spark orders NaN above every double. Only a raw cosine
    * at or above `threshold − 0.0001` pays for the decimal rounding:
    * anything below it rounds to at most `threshold − 0.0001`. */
  def firstKeeper(buffer: IterableOnce[(Long, Array[Float])],
      emb: Array[Float], threshold: Double): Option[(Long, Double)] = {
    val cut = threshold - 1e-4
    val it = buffer.iterator
    while (it.hasNext) {
      val (id, e) = it.next()
      if (e.length == emb.length) {
        val c = cosine(e, emb)
        if (!(c < cut)) {
          val q = round4(c)
          if (q >= threshold || q.isNaN) return Some((id, q))
        }
      }
    }
    None
  }
}

/** Raw dot product of two float vectors — the [[CosineSim]] kernel minus
  * the norms. Needed where the SCALE of the vectors matters (product-
  * quantization distances, reconstruction norms) and cosine's
  * normalization would destroy it. Same determinism contract: float
  * elements widened to double exactly, one left-to-right accumulation —
  * bit-compatible with the oracle's `list_sum(list_transform(...))` —
  * and the same null semantics (null input/element or length mismatch
  * poisons to NULL). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  private def elementNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  /** Always nullable — see [[CosineSim.nullable]]: every codegen path
    * that can assign `ev.isNull` (length mismatch, null element) must be
    * matched by `nullable = true` or Janino fails and the interpreter
    * fallback's null is coerced to 0.0. */
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"dot_product requires array<float> inputs, got " +
          s"${left.dataType.sql} / ${right.dataType.sql}")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val elementCheck =
        if (elementNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      val assign = s"${ev.value} = $dot;"
      val guardedAssign =
        if (elementNullable) s"if (!${ev.isNull}) { $assign }" else assign
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elementCheck
         |    $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  $guardedAssign
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All sign-LSH table-bucket ids of a float vector in ONE fused pass —
  * the kernel form of the when-chain over per-plane [[DotProduct]]s
  * that Similarity's bucket tiers originally inlined. The chain form is
  * bit-identical but generates tables·bits separate 64-element dot
  * loops inside one projection; past ~30 planes the generated method
  * falls off the JIT cliff (the adaptive-bits flat tier measured its
  * sf30 assignment at minutes instead of seconds at 48 planes). Here
  * the planes live in ONE flat float[] reference and the generated code
  * is three nested loops — constant code size at any bit width.
  * Arithmetic is exactly the chain's: each element widened to double,
  * left-to-right accumulation per plane, sign test dot > 0, bucket =
  * t·2^bits + Σ 2^b — so the s3/s9/s13 oracles, which replay the
  * plane literals in SQL, are untouched. Null semantics match
  * [[DotProduct]]: null input, null element, or a vector whose length
  * differs from the plane dimension poisons to NULL. */
case class SignBuckets(child: Expression, planes: Array[Float],
    tables: Int, bits: Int) extends UnaryExpression {

  private val dim: Int = planes.length / (tables * bits)

  // Array fields compare by reference under case-class equality, so two
  // logically identical sign_buckets expressions built from separately
  // allocated plane arrays would never canonicalize together (ADVICE
  // r15 — perf only: CSE and reuse-exchange matching silently degrade).
  // Content equality restores the Expression contract; the plane CACHE
  // in Similarity.flatPlanesFor makes the common case a cheap reference
  // hit before the element compare.
  override def equals(other: Any): Boolean = other match {
    case s: SignBuckets =>
      (s eq this) || (s.tables == tables && s.bits == bits &&
        s.child == child && java.util.Arrays.equals(s.planes, planes))
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(getClass, child,
      Integer.valueOf(tables), Integer.valueOf(bits),
      Integer.valueOf(java.util.Arrays.hashCode(planes)))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "sign_buckets"
  override def nullable: Boolean = true

  private def elementNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_buckets requires array<float> input, got ${other.sql}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != dim) return null
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var sig = 0
      var b = 0
      while (b < bits) {
        var dot = 0.0
        val off = (t * bits + b) * dim
        var i = 0
        while (i < dim) {
          if (a.isNullAt(i)) return null
          dot += a.getFloat(i).toDouble * planes(off + i).toDouble
          i += 1
        }
        if (dot > 0) sig |= (1 << b)
        b += 1
      }
      out(t) = sig + t * (1 << bits)
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ps = ctx.addReferenceObj("signPlanes", planes, "float[]")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val sig = ctx.freshName("sig")
      val dot = ctx.freshName("dot")
      val off = ctx.freshName("off")
      val elementCheck =
        if (elementNullable)
          s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      val breakOuter =
        if (elementNullable) s"if (${ev.isNull}) break;" else ""
      s"""
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $out = new int[$tables];
         |  for (int $t = 0; $t < $tables; $t++) {
         |    int $sig = 0;
         |    for (int $b = 0; $b < $bits; $b++) {
         |      double $dot = 0.0;
         |      int $off = ($t * $bits + $b) * $dim;
         |      for (int $i = 0; $i < $dim; $i++) {
         |        $elementCheck
         |        $dot += (double) $a.getFloat($i) * (double) $ps[$off + $i];
         |      }
         |      $breakOuter
         |      if ($dot > 0) $sig |= (1 << $b);
         |    }
         |    $breakOuter
         |    $out[$t] = $sig + $t * (1 << $bits);
         |  }
         |  if (${if (elementNullable) s"!${ev.isNull}" else "true"}) {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column-API entry point: `cosine_sim($"a", $"b")`. Inputs must be
    * `array<float>` (the harness embedding type); enforced at analysis
    * time by the expression's child dataType check below. */
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-API entry point: `dot_product($"a", $"b")`. */
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-API entry point: all sign-LSH table buckets in one fused
    * pass. `planes` is the flat row-major (table·bits)×dim matrix. */
  def sign_buckets(emb: Column, planes: Array[Float], tables: Int,
      bits: Int): Column =
    ColumnBridge.column(
      SignBuckets(ColumnBridge.expression(emb), planes, tables, bits))
}
