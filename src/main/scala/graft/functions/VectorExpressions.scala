package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Primitive-loop vector math used by the similarity/dedup operators.
  *
  * Spark's `zip_with` + `aggregate` route works but higher-order
  * functions are evaluated with interpreted lambdas (no codegen) and
  * allocate an intermediate array per row — too slow for the inner loop
  * of a 100 TB similarity scan. These are native Catalyst expressions:
  * a tight double-accumulation loop over the float arrays, wired into
  * whole-stage codegen via a static helper call, with deterministic
  * left-to-right summation (bit-compatible with the ordered-sum oracle).
  */
object VectorOps {

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def norm2(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    acc
  }

  /** Signed projection of an affine-transformed ARRAY<BIGINT> code
    * vector: out[j] = Σ_i (codes[i]·scale + shift) · signs[j·inDim + i]
    * (signs flattened row-major `outDim x inDim`, entries ±1). The
    * affine step lets callers center quantization codes (e.g.
    * scale=2, shift=-(levels-1)) without a second array pass.
    * All-integer — exact and order-independent, so any engine replaying
    * the same signs matches bit-for-bit.
    */
  def signedProject(
      codes: ArrayData,
      signs: Array[Int],
      inDim: Int,
      scale: Long,
      shift: Long): ArrayData = {
    val outDim = signs.length / inDim
    val n = math.min(codes.numElements(), inDim)
    val out = new Array[Any](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0L
      val off = j * inDim
      var i = 0
      while (i < n) {
        acc += (codes.getLong(i) * scale + shift) * signs(off + i)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-vector scalar quantization to integer codes in [0, levels-1] in
    * ONE pass: min/max scan + `round((x - mn) / scale)` with
    * `scale = (mx - mn)/(levels - 1)`, constant vectors → all-0. The
    * arithmetic is EXACTLY the Column formulation it replaces —
    * double ops in the same shape, and rounding via the same
    * `BigDecimal.valueOf(...).setScale(0, HALF_UP)` Spark's `round`
    * uses (shortest-decimal HALF_UP equals half-away-from-zero on the
    * binary value for every non-tie, and ties agree, so the DuckDB
    * oracle still matches bit-for-bit) — only the EVALUATION changes:
    * the Column spelling references the cast array from inside the
    * per-element lambda through `array_min`/`array_max`, and Catalyst
    * inlines those whole-array scans into the lambda BODY, making
    * quantization O(dim²) interpreted work per row (measured ~150 µs
    * per 64-dim row — 30x the cost of this loop). Elements must be
    * non-null finite floats (the parquet embedding contract).
    */
  def quantizeLong(vec: ArrayData, levels: Int): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](n)
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val v = vec.getFloat(i).toDouble
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    if (mx == mn) {
      i = 0
      while (i < n) { out(i) = 0L; i += 1 }
    } else {
      val scale = (mx - mn) / (levels - 1).toDouble
      i = 0
      while (i < n) {
        val x = (vec.getFloat(i).toDouble - mn) / scale
        out(i) = java.math.BigDecimal
          .valueOf(x)
          .setScale(0, java.math.RoundingMode.HALF_UP)
          .longValue()
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Cosine over two ARRAY<BIGINT> columns in ONE pass: dot and both
    * norms are exact BIGINTs, the final double is the fixed shape
    * `(double) dot / (sqrt((double) na) * sqrt((double) nb))` — every op
    * correctly rounded over exact inputs, so bit-identical on any
    * engine. Returns null (boxed) on a zero norm. One function so a
    * computed (expensive) array column is referenced exactly ONCE —
    * expressing dot/norms as three separate column references lets
    * CollapseProject inline the array's defining expression into every
    * reference and re-evaluate it per reference per row.
    */
  def cosineLong(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      val y = b.getLong(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) null
    else java.lang.Double.valueOf(dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)))
  }

  /** Sign-bit bucket of `a` against `planes` (flattened row-major
    * `numPlanes x dim`): bit p set iff dot(a, planes[p]) >= 0.
    */
  def hyperplaneBucket(a: ArrayData, planes: Array[Double], dim: Int): Long = {
    val numPlanes = planes.length / dim
    val n = math.min(a.numElements(), dim)
    var bits = 0L
    var p = 0
    while (p < numPlanes) {
      var acc = 0.0
      val off = p * dim
      var i = 0
      while (i < n) {
        acc += a.getFloat(i).toDouble * planes(off + i)
        i += 1
      }
      if (acc >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }
}

/** dot(a, b) over two ARRAY<FLOAT> columns, double accumulation. */
case class DotProductExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sum of squares of an ARRAY<FLOAT> column, double accumulation. */
case class Norm2Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = VectorOps.norm2(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorOps.norm2($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Signed ±1 projection of an ARRAY<BIGINT> code vector to
  * `signs.length / inDim` exact BIGINT components; `signs` ships as a
  * referenced object into generated code (no literal tree per entry).
  */
case class SignedProjectExpr(
    child: Expression,
    signs: Array[Int],
    inDim: Int,
    scale: Long,
    shift: Long)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    VectorOps.signedProject(a.asInstanceOf[ArrayData], signs, inDim, scale, shift)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signs", signs, "int[]")
    defineCodeGen(
      ctx,
      ev,
      a => s"graft.functions.VectorOps.signedProject($a, $ref, $inDim, ${scale}L, ${shift}L)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass scalar quantization to BIGINT codes (see
  * [[VectorOps.quantizeLong]]).
  */
case class QuantizeCodesExpr(child: Expression, levels: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    VectorOps.quantizeLong(a.asInstanceOf[ArrayData], levels)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorOps.quantizeLong($a, $levels)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Single-pass exact-integer cosine over two ARRAY<BIGINT> columns;
  * null on zero norms (see [[VectorOps.cosineLong]]).
  */
case class CosineLongExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosineLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cos = ctx.freshName("cosLong")
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => s"""
        |java.lang.Double $cos = graft.functions.VectorOps.cosineLong($a, $b);
        |if ($cos == null) {
        |  ${ev.isNull} = true;
        |} else {
        |  ${ev.value} = $cos.doubleValue();
        |}
      """.stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Random-hyperplane sign-bit bucket id; `planes` ships as a referenced
  * object into generated code (no literal tree per coefficient).
  */
case class HyperplaneBucketExpr(child: Expression, planes: Array[Double], dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any =
    VectorOps.hyperplaneBucket(a.asInstanceOf[ArrayData], planes, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorOps.hyperplaneBucket($a, $ref, $dim)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-level API for the vector expressions (Spark 4's `Column` wraps
  * ColumnNodes; `ExpressionUtils` is the classic-backend bridge).
  */
object VectorFunctions {
  import org.apache.spark.sql.functions.{lit, sqrt, typedLit, when}
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def vec_dot(a: Column, b: Column): Column =
    column(DotProductExpr(expression(a), expression(b)))
  def vec_norm2(a: Column): Column = column(Norm2Expr(expression(a)))
  def vec_cosine(a: Column, b: Column): Column = cosineOver(a, b, sqrt(vec_norm2(b)))

  /** `vec_cosine(a, typedLit(q))` for a per-call vector `q`, with ‖q‖
    * bound as a [[Param]]: constant folding would turn
    * `sqrt(vec_norm2(typedLit(q)))` into a double literal inlined into
    * the generated code, so each query vector would compile new classes.
    * ‖q‖ is the same fold on the driver (`Norm2Expr`'s loop, then
    * `Math.sqrt`), so the value is bit-identical; `q` itself is an array
    * literal, which generated code already reads through a reference.
    */
  def vec_cosine_to(a: Column, q: Array[Float]): Column =
    cosineOver(a, typedLit(q), Params.param(math.sqrt(VectorOps.norm2(ArrayData.toArrayData(q)))))

  // a zero-norm (corrupt/padded) vector must yield NULL, not an ANSI
  // division-by-zero error that kills the whole scan
  private def cosineOver(a: Column, b: Column, bNorm: Column): Column = {
    val denom = sqrt(vec_norm2(a)) * bNorm
    when(denom === 0, lit(null).cast("double")).otherwise(vec_dot(a, b) / denom)
  }
  def hyperplane_bucket(a: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.nonEmpty)
    val dim = planes.head.length
    column(HyperplaneBucketExpr(expression(a), planes.flatten.toArray, dim))
  }
  def signed_project(
      codes: Column,
      signs: Array[Int],
      inDim: Int,
      scale: Long = 1L,
      shift: Long = 0L): Column = {
    require(inDim > 0 && signs.length % inDim == 0, "signs must be outDim x inDim")
    column(SignedProjectExpr(expression(codes), signs, inDim, scale, shift))
  }
  def vec_cosine_long(a: Column, b: Column): Column =
    column(CosineLongExpr(expression(a), expression(b)))
  def quantize_codes(vec: Column, levels: Int): Column = {
    require(levels >= 2, s"quantize_codes: need at least 2 levels, got $levels")
    column(QuantizeCodesExpr(expression(vec), levels))
  }
}
