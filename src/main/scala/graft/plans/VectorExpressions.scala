package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the vector-distance hot path —
  * SURVEY.md §4 "custom Catalyst work actually required" item 1.
  *
  * The higher-order-function forms in
  * [[graft.functions.VectorFunctions]] allocate an intermediate array per
  * row (`zip_with`) and evaluate a lambda per element. These expressions
  * generate a tight fused Java loop instead (`doGenCode`) — no
  * allocation, no virtual calls — which matters when a KNN query scans
  * every embedding of a 100 TB corpus. Interpreted `eval` is also
  * provided so the expressions work wherever codegen is disabled.
  *
  * Semantics match the HOF forms bit-for-bit: accumulate in Double in
  * element order (oracle reproducibility, SURVEY §7.5); null array or
  * null element or length mismatch → null.
  *
  * Registered as SQL functions `graft_l2sq` / `graft_dot` / `graft_cos`
  * via [[VectorExpressions.ensureRegistered]] (imperative, any session)
  * or [[GraftExtensions]] (`spark.sql.extensions`, the declarative
  * route).
  */
abstract class VectorFoldExpression extends BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** loop body: given a/b/i, update accumulator state decls */
  protected def stateDecl: String
  protected def loopBody(a: String, b: String): String
  protected def resultExpr: String

  protected def evalVectors(x: ArrayData, y: ArrayData): Any

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      var i = 0
      val n = x.numElements()
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        i += 1
      }
      evalVectors(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // the outer braces scope the $-suffixed locals: with non-nullable
      // children nullSafeExec emits no enclosing block, so two instances
      // of a fold expression in one codegen scope would otherwise declare
      // duplicate Java locals and fail Janino compilation
      s"""
         |{
         |int n$$ = $a.numElements();
         |if (n$$ != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  $stateDecl
         |  boolean anyNull$$ = false;
         |  for (int i$$ = 0; i$$ < n$$; i$$++) {
         |    if ($a.isNullAt(i$$) || $b.isNullAt(i$$)) {
         |      anyNull$$ = true; break;
         |    }
         |    ${loopBody(a, b)}
         |  }
         |  if (anyNull$$) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $resultExpr; }
         |}
         |}
       """.stripMargin
    })
}

/** Squared L2 distance over two float arrays (monotone in L2 — rank by
  * either). SQL name: `graft_l2sq`. */
case class L2SquaredDistance(left: Expression, right: Expression)
    extends VectorFoldExpression {
  override def prettyName: String = "graft_l2sq"
  protected def stateDecl: String = "double s$ = 0.0;"
  protected def loopBody(a: String, b: String): String =
    s"double d$$ = (double)$a.getFloat(i$$) - (double)$b.getFloat(i$$); " +
      "s$ += d$ * d$;"
  protected def resultExpr: String = "s$"
  protected def evalVectors(x: ArrayData, y: ArrayData): Any = {
    var s = 0.0; var i = 0; val n = x.numElements()
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      s += d * d; i += 1
    }
    s
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product over two float arrays. SQL name: `graft_dot`. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorFoldExpression {
  override def prettyName: String = "graft_dot"
  protected def stateDecl: String = "double s$ = 0.0;"
  protected def loopBody(a: String, b: String): String =
    s"s$$ += (double)$a.getFloat(i$$) * (double)$b.getFloat(i$$);"
  protected def resultExpr: String = "s$"
  protected def evalVectors(x: ArrayData, y: ArrayData): Any = {
    var s = 0.0; var i = 0; val n = x.numElements()
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1
    }
    s
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity in one fused pass (dot + both norms in a single
  * loop — the composed HOF form scans the arrays three times). All-zero
  * vector → 0.0, matching
  * [[graft.functions.VectorFunctions.cosineSimilarity]]. SQL name:
  * `graft_cos`. */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends VectorFoldExpression {
  override def prettyName: String = "graft_cos"
  protected def stateDecl: String =
    "double dot$ = 0.0; double na$ = 0.0; double nb$ = 0.0;"
  protected def loopBody(a: String, b: String): String =
    s"""double xa$$ = (double)$a.getFloat(i$$);
       |double xb$$ = (double)$b.getFloat(i$$);
       |dot$$ += xa$$ * xb$$; na$$ += xa$$ * xa$$; nb$$ += xb$$ * xb$$;
     """.stripMargin
  protected def resultExpr: String =
    "(na$ == 0.0 || nb$ == 0.0) ? 0.0 " +
      ": (dot$ / (java.lang.Math.sqrt(na$) * java.lang.Math.sqrt(nb$)))"
  protected def evalVectors(x: ArrayData, y: ArrayData): Any = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0; val n = x.numElements()
    while (i < n) {
      val xa = x.getFloat(i).toDouble; val xb = y.getFloat(i).toDouble
      dot += xa * xb; na += xa * xa; nb += xb * xb; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket: the concatenated sign bits of the dot
  * products of `left` (array<float> vector, dim n) with `bits` fixed
  * hyperplanes packed row-major into `right` (array<double>, length
  * bits·n). One fused pass — no per-plane intermediate arrays. Returns a
  * '0'/'1' string of length bits; null when either input is null, the
  * vector or plane array is empty, a plane length doesn't divide the
  * packed array, or any element is null. Signs of dots with FIXED PSEUDO-RANDOM
  * directions (not raw axes) keep buckets balanced on anisotropic
  * real-world embeddings — positive-mean sentence encoders collapse raw
  * first-dim sign buckets into one. Accumulation is Double in element
  * order, so an oracle evaluating the same literal dot-product chain
  * reproduces the bucket exactly. SQL name: `graft_hyperplane_bucket`.
  */
case class HyperplaneBucketExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_hyperplane_bucket"
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullable: Boolean = true

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val p = b.asInstanceOf[ArrayData]
    val n = v.numElements()
    val pl = p.numElements()
    if (n == 0 || pl == 0 || pl % n != 0) return null
    val bits = pl / n
    val out = new Array[Byte](bits)
    var bi = 0
    while (bi < bits) {
      var s = 0.0
      var j = 0
      while (j < n) {
        if (v.isNullAt(j) || p.isNullAt(bi * n + j)) return null
        s += v.getFloat(j).toDouble * p.getDouble(bi * n + j)
        j += 1
      }
      out(bi) = if (s >= 0) '1' else '0'
      bi += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // ctx.freshName: with non-nullable children nullSafeExec emits no
      // enclosing block, so fixed local names would collide (duplicate
      // Java declarations → Janino failure) if the expression appears
      // twice in one codegen scope
      val n = ctx.freshName("n")
      val pl = ctx.freshName("pl")
      val bits = ctx.freshName("bits")
      val out = ctx.freshName("out")
      val anyNull = ctx.freshName("anyNull")
      val bi = ctx.freshName("bi")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      s"""
         |int $n = $a.numElements();
         |int $pl = $b.numElements();
         |if ($n == 0 || $pl == 0 || $pl % $n != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $bits = $pl / $n;
         |  byte[] $out = new byte[$bits];
         |  boolean $anyNull = false;
         |  for (int $bi = 0; $bi < $bits && !$anyNull; $bi++) {
         |    double $s = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      if ($a.isNullAt($j) || $b.isNullAt($bi * $n + $j)) {
         |        $anyNull = true; break;
         |      }
         |      $s += (double)$a.getFloat($j)
         |        * $b.getDouble($bi * $n + $j);
         |    }
         |    $out[$bi] = $s >= 0 ? (byte)'1' : (byte)'0';
         |  }
         |  if ($anyNull) { ${ev.isNull} = true; }
         |  else {
         |    ${ev.value} =
         |      org.apache.spark.unsafe.types.UTF8String.fromBytes($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SQ8 scalar quantization: encode a float vector as one byte per
  * dimension against per-dimension affine params. `right` packs the
  * params as array<double> `[min_0..min_{n-1}, scale_0..scale_{n-1}]`
  * (scale = (max-min)/255 from the corpus — one literal via `typedLit`,
  * like the hyperplane planes). code_i = clamp(0, 255,
  * round((x_i - min_i) / scale_i)), 0 when scale_i <= 0 (a constant
  * dimension). Every step is double arithmetic with round-half-up on a
  * non-negative argument, so a SQL replay (`round`, `least`/`greatest`)
  * reproduces the bytes exactly. Null input / length mismatch → null.
  * SQL name: `graft_sq8_encode`. */
case class Sq8EncodeExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_sq8_encode"
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = true

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val p = b.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (n == 0 || p.numElements() != 2 * n) return null
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i) || p.isNullAt(i) || p.isNullAt(n + i)) return null
      val x = v.getFloat(i).toDouble
      val min = p.getDouble(i)
      val scale = p.getDouble(n + i)
      val code =
        if (scale <= 0.0) 0L
        else math.min(255L, math.max(0L, math.round((x - min) / scale)))
      out(i) = code.toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val anyNull = ctx.freshName("anyNull")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val min = ctx.freshName("min")
      val scale = ctx.freshName("scale")
      val code = ctx.freshName("code")
      s"""
         |int $n = $a.numElements();
         |if ($n == 0 || $b.numElements() != 2 * $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  byte[] $out = new byte[$n];
         |  boolean $anyNull = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i) || $b.isNullAt($n + $i)) {
         |      $anyNull = true; break;
         |    }
         |    double $x = (double)$a.getFloat($i);
         |    double $min = $b.getDouble($i);
         |    double $scale = $b.getDouble($n + $i);
         |    long $code = $scale <= 0.0 ? 0L
         |      : Math.min(255L, Math.max(0L, Math.round(($x - $min) / $scale)));
         |    $out[$i] = (byte)$code;
         |  }
         |  if ($anyNull) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $out; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance between an SQ8-encoded vector (`left`, binary —
  * see [[Sq8EncodeExpr]]) and a float query (`middle`), decoding
  * against the same packed params (`right`) on the fly — ONE fused
  * loop, no decoded array materialized. Reading 1 byte/dim instead of
  * 4 is the point: the approximate ranking pass of a quantized IVF
  * search scans ~4× less data, then an exact pass re-ranks only the
  * top candidates. Per term (all double, element order):
  * `d = (min_i + code_i·scale_i) − q_i; s += d·d` — exactly what a SQL
  * replay over the hex-decoded bytes computes. SQL name:
  * `graft_sq8_l2sq`. */
case class Sq8L2SquaredExpr(left: Expression, middle: Expression,
    right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes {
  override def prettyName: String = "graft_sq8_l2sq"
  override def first: Expression = left
  override def second: Expression = middle
  override def third: Expression = right
  override def inputTypes = Seq(org.apache.spark.sql.types.BinaryType,
    ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val codes = a.asInstanceOf[Array[Byte]]
    val q = b.asInstanceOf[ArrayData]
    val p = c.asInstanceOf[ArrayData]
    val n = codes.length
    if (n == 0 || q.numElements() != n || p.numElements() != 2 * n)
      return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (q.isNullAt(i) || p.isNullAt(i) || p.isNullAt(n + i)) return null
      val xhat = p.getDouble(i) +
        (codes(i) & 0xFF).toDouble * p.getDouble(n + i)
      val d = xhat - q.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val anyNull = ctx.freshName("anyNull")
      val i = ctx.freshName("i")
      val xhat = ctx.freshName("xhat")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.length;
         |if ($n == 0 || $b.numElements() != $n ||
         |    $c.numElements() != 2 * $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  boolean $anyNull = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($b.isNullAt($i) || $c.isNullAt($i) || $c.isNullAt($n + $i)) {
         |      $anyNull = true; break;
         |    }
         |    double $xhat = $c.getDouble($i)
         |      + (double)($a[$i] & 0xFF) * $c.getDouble($n + $i);
         |    double $d = $xhat - (double)$b.getFloat($i);
         |    $s += $d * $d;
         |  }
         |  if ($anyNull) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(left = newFirst, middle = newSecond, right = newThird)
}

/** Integer Johnson-Lindenstrauss projection distance (q168's reduced-
  * space ranking) as ONE fused loop: quantize the float vector to the
  * exact integer grid `q_i = floor(x_i·1024 + 0.5)` (long), project
  * onto `bits` integer random directions, and return the exact BIGINT
  * L2² to the pre-projected query — `Σ_b (Σ_i q_i·P[b·dim+i] − qp_b)²`.
  * `right` packs the plane matrix row-major (bits·dim longs) followed
  * by the query's `bits` projections, so `bits` is inferred as
  * `len(right) / (dim + 1)`.
  *
  * Replaces a `transform` HOF (CodegenFallback) feeding a 16×64-term
  * `element_at` tree — a shape that ejected the whole projection from
  * WholeStageCodegen and evaluated interpreted (r21, guide §4). All
  * arithmetic is the same long arithmetic in the same order, so the
  * ranking — and the gated recall row — is bit-identical; the oracle
  * replays it in SQL unchanged. Null vector / null element / length
  * mismatch → null, matching the HOF form's null propagation (any
  * null element nulled every projection). SQL name: `graft_jl_l2sq`. */
case class JlProjectDistExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_jl_l2sq"
  override def inputTypes = Seq(ArrayType(FloatType),
    ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val p = b.asInstanceOf[ArrayData]
    val dim = v.numElements()
    if (dim == 0 || p.numElements() % (dim + 1) != 0) return null
    val bits = p.numElements() / (dim + 1)
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      q(i) = math.floor(v.getFloat(i).toDouble * 1024.0 + 0.5).toLong
      i += 1
    }
    var d2 = 0L
    var b0 = 0
    while (b0 < bits) {
      var acc = 0L
      var j = 0
      while (j < dim) {
        if (p.isNullAt(b0 * dim + j)) return null
        acc += q(j) * p.getLong(b0 * dim + j)
        j += 1
      }
      if (p.isNullAt(bits * dim + b0)) return null
      val diff = acc - p.getLong(bits * dim + b0)
      d2 += diff * diff
      b0 += 1
    }
    d2
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dim = ctx.freshName("dim")
      val bits = ctx.freshName("bits")
      val q = ctx.freshName("q")
      val anyNull = ctx.freshName("anyNull")
      val i = ctx.freshName("i")
      val bI = ctx.freshName("b")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val diff = ctx.freshName("diff")
      val d2 = ctx.freshName("d2")
      s"""
         |int $dim = $a.numElements();
         |if ($dim == 0 || $b.numElements() % ($dim + 1) != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $bits = $b.numElements() / ($dim + 1);
         |  long[] $q = new long[$dim];
         |  boolean $anyNull = false;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($a.isNullAt($i)) { $anyNull = true; break; }
         |    $q[$i] = (long) Math.floor((double)$a.getFloat($i) * 1024.0 + 0.5);
         |  }
         |  long $d2 = 0L;
         |  for (int $bI = 0; !$anyNull && $bI < $bits; $bI++) {
         |    long $acc = 0L;
         |    for (int $j = 0; $j < $dim; $j++) {
         |      if ($b.isNullAt($bI * $dim + $j)) { $anyNull = true; break; }
         |      $acc += $q[$j] * $b.getLong($bI * $dim + $j);
         |    }
         |    if ($anyNull || $b.isNullAt($bits * $dim + $bI)) {
         |      $anyNull = true; break;
         |    }
         |    long $diff = $acc - $b.getLong($bits * $dim + $bI);
         |    $d2 += $diff * $diff;
         |  }
         |  if ($anyNull) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $d2; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Hamming distance between a packed sign code (`left`, array<long> —
  * see [[graft.operators.BinaryHash.packCol]]) and a packed query
  * (`right`, array<long>): `Σ_w bit_count(code_w XOR q_w)` over the
  * query's words, as a long. It replaces a fan of
  * `bit_count(element_at(code, w) ^ q_w)` terms whose inlined long
  * constants made every query compile new classes; the query array is
  * now a literal held by reference, so the generated code is the same
  * for every query. Null and range semantics are the fan's, term by
  * term in word order: a null code or word is null, a code shorter than
  * the query is `element_at` past the end (null, or an
  * ArrayIndexOutOfBoundsException under ANSI — captured at
  * construction, like `element_at`'s), and extra code words are
  * ignored. SQL name: `graft_hamming`. */
case class HammingExpr(left: Expression, right: Expression,
    failOnError: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_hamming"
  override def inputTypes = Seq(ArrayType(org.apache.spark.sql.types.LongType),
    ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val code = a.asInstanceOf[ArrayData]
    val q = b.asInstanceOf[ArrayData]
    var s = 0L
    var w = 0
    while (w < q.numElements()) {
      if (w >= code.numElements()) {
        if (failOnError) throw HammingExpr.outOfRange(w, code.numElements())
        return null
      }
      if (code.isNullAt(w) || q.isNullAt(w)) return null
      s += java.lang.Long.bitCount(code.getLong(w) ^ q.getLong(w))
      w += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val w = ctx.freshName("w")
      val anyNull = ctx.freshName("anyNull")
      val outOfRange =
        if (failOnError)
          s"throw graft.plans.HammingExpr.outOfRange($w, $a.numElements());"
        else s"$anyNull = true; break;"
      s"""
         |long $s = 0L;
         |boolean $anyNull = false;
         |for (int $w = 0; $w < $b.numElements(); $w++) {
         |  if ($w >= $a.numElements()) { $outOfRange }
         |  if ($a.isNullAt($w) || $b.isNullAt($w)) { $anyNull = true; break; }
         |  $s += Long.bitCount($a.getLong($w) ^ $b.getLong($w));
         |}
         |if ($anyNull) { ${ev.isNull} = true; }
         |else { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HammingExpr {
  /** the ANSI error for a code with fewer words than the query */
  def outOfRange(word: Int, codeWords: Int): ArrayIndexOutOfBoundsException =
    new ArrayIndexOutOfBoundsException(
      s"graft_hamming: the query has a word ${word + 1} the code lacks " +
        s"(code has $codeWords words)")
}

object VectorExpressions {
  /** the engine's full native-expression registry (vector + text) — both
    * registration routes (imperative + extensions) consume this list */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_l2sq", es => L2SquaredDistance(es(0), es(1))),
    ("graft_jl_l2sq", es => JlProjectDistExpr(es(0), es(1))),
    ("graft_dot", es => DotProduct(es(0), es(1))),
    ("graft_cos", es => CosineSimilarityExpr(es(0), es(1))),
    ("graft_hyperplane_bucket", es => HyperplaneBucketExpr(es(0), es(1))),
    ("graft_sq8_encode", es => Sq8EncodeExpr(es(0), es(1))),
    ("graft_sq8_l2sq", es => Sq8L2SquaredExpr(es(0), es(1), es(2))),
    ("graft_hamming", es => HammingExpr(es(0), es(1))),
    ("graft_char_jac", es => CharNgramJaccard(es(0), es(1), es(2))),
    ("graft_simhash", es => SimHashExpr(es(0), es(1))),
    ("graft_rollhash", es => RollingHashExpr(es(0))),
    ("graft_rep_stats", es => RepetitionStatsExpr(es(0))),
    ("graft_tok_stats", es => TokenStatsExpr(es(0), es(1))),
    ("graft_word_shingles", es => WordShinglesExpr(es(0), es(1))),
    ("graft_word_spans", es => WordSpansExpr(es(0), es(1))),
    ("graft_gopher_stats", es => GopherStatsExpr(es(0), es(1))),
    ("graft_minhash", es => MinHashSigExpr(es(0), es(1))),
    ("graft_query_overlap", es => QueryOverlapExpr(es(0), es(1))),
    ("graft_marker_counts", es => MarkerCountsExpr(es(0), es(1))),
    ("graft_morton", es => MortonCodeExpr(es(0), es(1))),
    ("graft_drop_covered", es => DropCoveredExpr(es(0), es(1), es(2))))

  /** Idempotently register the native functions on a session — works on
    * any session, including one the external driver built without
    * `spark.sql.extensions`. */
  def ensureRegistered(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
