package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}

/** Native Catalyst expressions for the hot per-row vector kernels (SURVEY §4
  * item 2: "custom expressions … instead of Scala UDFs").
  *
  * Spark's higher-order array functions (`aggregate`/`zip_with`) are
  * `CodegenFallback`: every row walks an interpreted lambda tree with boxed
  * `Double`s. These expressions generate a tight primitive `for` loop inside
  * whole-stage codegen instead — no allocation, no virtual dispatch — which is
  * what a 768-dim embedding column needs at 100 TB scale.
  *
  * Bit-parity contract (the DuckDB oracle compares doubles exactly): the
  * accumulation order is the same sequential left-to-right fold the HOF
  * versions in [[graft.functions.VecFns]] use, and cosine keeps the exact
  * formula shape `dot / (sqrt(dot(a,a)) * sqrt(dot(b,b)))` with a zero-denom
  * guard, so swapping implementations does not move a single bit.
  *
  * Semantics notes (both differ from the HOF versions only on inputs that the
  * engine never produces): null *elements* are skipped rather than poisoning
  * the whole result, and mismatched lengths reduce over the common prefix.
  */
trait VecBinaryReduce extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def vec(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (vec(left.dataType) && vec(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> or ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  protected def leftFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected def rightFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected def elem(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Java source for reading element `i` of array variable `v` as a double. */
  protected def elemCode(v: String, isFloat: Boolean, i: String): String =
    if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
}

/** `vec_dot(a, b)` — dot product in double precision (P8/similarity kernel). */
case class VecDot(left: Expression, right: Expression) extends VecBinaryReduce {
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        sum += elem(x, leftFloat, i) * elem(y, rightFloat, i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, sum) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("sum"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $sum += ${elemCode(a, leftFloat, i)} * ${elemCode(b, rightFloat, i)};
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** `vec_cosine(a, b)` — cosine similarity; 0.0 when either norm is zero.
  * One pass over both arrays (the HOF version walks them three times). */
case class VecCosine(left: Expression, right: Expression) extends VecBinaryReduce {
  override def prettyName: String = "vec_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = elem(x, leftFloat, i); val yv = elem(y, rightFloat, i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
      }
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i) = (ctx.freshName("n"), ctx.freshName("i"))
      val (dot, na, nb) = (ctx.freshName("dot"), ctx.freshName("na"), ctx.freshName("nb"))
      val (xv, yv, den) = (ctx.freshName("xv"), ctx.freshName("yv"), ctx.freshName("den"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $xv = ${elemCode(a, leftFloat, i)};
         |    double $yv = ${elemCode(b, rightFloat, i)};
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |}
         |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($den == 0.0) ? 0.0 : $dot / $den;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosine =
    copy(left = l, right = r)
}

/** `vec_l2sq(a, b)` — squared L2 distance (IVF/k-means kernel). */
case class VecL2Sq(left: Expression, right: Expression) extends VecBinaryReduce {
  override def prettyName: String = "vec_l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val d = elem(x, leftFloat, i) - elem(y, rightFloat, i)
        sum += d * d
      }
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, sum, d) =
        (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("sum"), ctx.freshName("d"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $d = ${elemCode(a, leftFloat, i)} - ${elemCode(b, rightFloat, i)};
         |    $sum += $d * $d;
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecL2Sq =
    copy(left = l, right = r)
}

/** Column wrappers + SQL registration for the vector kernels. */
object VectorFunctions {
  import org.apache.spark.sql.graftbridge.SqlBridge.{column, expression}

  def vecDot(a: Column, b: Column): Column = column(VecDot(expression(a), expression(b)))
  def vecCosine(a: Column, b: Column): Column = column(VecCosine(expression(a), expression(b)))
  def vecL2Sq(a: Column, b: Column): Column = column(VecL2Sq(expression(a), expression(b)))

  /** Register the kernels as SQL functions on a session:
    * `SELECT vec_cosine(a, b) FROM …`. */
  def register(spark: SparkSession): Unit =
    Seq[(String, String, Seq[Expression] => Expression)](
      ("vec_dot", "dot product of two numeric arrays", es => VecDot(es(0), es(1))),
      ("vec_cosine", "cosine similarity of two numeric arrays", es => VecCosine(es(0), es(1))),
      ("vec_l2sq", "squared L2 distance of two numeric arrays", es => VecL2Sq(es(0), es(1)))
    ).foreach { case (name, usage, builder) =>
      spark.sessionState.functionRegistry.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo("graft.expressions.VectorExpressions", null, name, usage, ""),
        builder)
    }
}
