package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * evaluates INTERPRETED per element — for ANN scoring that is the hot
  * loop of the whole workload. These expressions generate a tight primitive
  * Java loop (whole-stage codegen), read float or double arrays directly
  * (no `transform(_.cast)` array materialization), and compute cosine's
  * three accumulations in ONE pass.
  */
private object VecExpr {
  def elementType(e: Expression): DataType = e.dataType match {
    case ArrayType(et @ (FloatType | DoubleType), _) => et
    case other =>
      throw new IllegalArgumentException(
        s"expected array<float|double>, got ${other.simpleString(10)}")
  }
  def get(arr: String, i: String, et: DataType): String = et match {
    case FloatType => s"(double)$arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }
  def getEval(arr: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }
  /** True when either array holds a null among its first `n` elements. */
  def anyNull(x: ArrayData, y: ArrayData, n: Int): Boolean =
    (0 until n).exists(i => x.isNullAt(i) || y.isNullAt(i))
}

/** Σ a_i * b_i over two numeric arrays (shorter length wins). A null
  * element within the shared length yields NULL, as the HOF
  * `aggregate(zip_with(a * b))` does.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  private lazy val lt = VecExpr.elementType(left)
  private lazy val rt = VecExpr.elementType(right)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    if (VecExpr.anyNull(x, y, n)) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) { s += VecExpr.getEval(x, i, lt) * VecExpr.getEval(y, i, rt); i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += ${VecExpr.get(a, i, lt)} * ${VecExpr.get(b, i, rt)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine similarity in one pass: dot, |a|, |b| accumulate in the same loop.
  * A zero-norm input yields NULL, not NaN: Spark's ordering ranks NaN above
  * every value, so a NaN cosine would sail through `>= threshold` filters
  * (merging a zero embedding with its whole cell) and sort FIRST under
  * `ORDER BY cosine DESC`. NULL does the right thing everywhere — filters
  * drop it, DESC ordering puts it last, and argmax folds skip it. A null
  * element within the shared length also yields NULL, as the HOF form does.
  */
case class ArrayCosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  private lazy val lt = VecExpr.elementType(left)
  private lazy val rt = VecExpr.elementType(right)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "array_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    if (VecExpr.anyNull(x, y, n)) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = VecExpr.getEval(x, i, lt)
      val yv = VecExpr.getEval(y, i, rt)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val hasNull = ctx.freshName("hasNull")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $hasNull = true; break; }
         |  double $xv = ${VecExpr.get(a, i, lt)};
         |  double $yv = ${VecExpr.get(b, i, rt)};
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |if ($hasNull || $na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (a_i − b_i)² over two numeric arrays (shorter length wins) — the ANN
  * squared-L2 hot loop. Element-type dispatched: two long arrays (the
  * micro-quantized exact-replay representation) accumulate in LONG — the
  * identical left-fold the HOF `aggregate(zip_with((a−b)²))` performs
  * (int64 headroom: micro-unit deltas ≤ ~4e6 squared × dim ≪ 2^63);
  * float/double arrays accumulate in DOUBLE with the same sequential
  * order, so each IEEE rounding step matches the HOF fold and the DuckDB
  * replay. On arrays of equal length the result equals the HOF's bit for
  * bit, NULL included: a null element in either array yields NULL, as
  * `(a−b)²` and then `acc + x` do in the HOF. On unequal lengths they
  * differ: the kernel sums the shared prefix, while `zip_with` pads the
  * shorter side with nulls and the HOF yields NULL. Exists because
  * higher-order functions evaluate interpreted per element (the file-header
  * note) and keep their operator out of whole-stage codegen: for ANN
  * scoring that loop ran per candidate pair.
  */
case class ArrayL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {
  private lazy val isLong: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) |
        (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        "array_l2sq takes two arrays whose elements are both long, or both float/double; " +
          s"got ${l.simpleString(10)} and ${r.simpleString(10)}")
  }
  private lazy val lt = VecExpr.elementType(left)
  private lazy val rt = VecExpr.elementType(right)
  override def dataType: DataType = if (isLong) LongType else DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "array_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    if (VecExpr.anyNull(x, y, n)) null
    else if (isLong) {
      var s = 0L
      var i = 0
      while (i < n) {
        val d = x.getLong(i) - y.getLong(i); s += d * d; i += 1
      }
      s
    } else {
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = VecExpr.getEval(x, i, lt) - VecExpr.getEval(y, i, rt)
        s += d * d; i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val (acc, zero, xa, xb) =
        if (isLong) ("long", "0L", s"$a.getLong($i)", s"$b.getLong($i)")
        else ("double", "0.0", VecExpr.get(a, i, lt), VecExpr.get(b, i, rt))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |$acc $s = $zero;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc $d = $xa - $xb;
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object vector {
  def array_dot(a: Column, b: Column): Column =
    GraftExpressionBridge.column(ArrayDotProduct(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  def array_cosine(a: Column, b: Column): Column =
    GraftExpressionBridge.column(ArrayCosineSimilarity(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  def array_l2sq(a: Column, b: Column): Column =
    GraftExpressionBridge.column(ArrayL2Sq(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  /** SQL registration: `SELECT array_cosine(e1, e2) FROM ...`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("array_dot",
      exprs => ArrayDotProduct(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("array_cosine",
      exprs => ArrayCosineSimilarity(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("array_l2sq",
      exprs => ArrayL2Sq(exprs(0), exprs(1)), "built-in")
  }
}
