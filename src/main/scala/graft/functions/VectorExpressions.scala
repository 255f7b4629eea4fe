package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the ANN hot path: the dot product of two
  * numeric arrays, accumulated in double, left-to-right (so results are
  * bit-identical to the `aggregate(zip_with(...))` higher-order-function
  * formulation it replaces — but with whole-stage codegen instead of
  * per-element interpreted lambdas). NULL semantics match the HOF form
  * too: unequal lengths or a null element yield NULL (zip_with pads the
  * shorter side with nulls, which poison the aggregate) — a corrupt or
  * ragged embedding row drops out of a top-k instead of scoring a
  * silently-truncated partial product.
  *
  * The reference's only scalar UDF is the Cypher layer's `type()`
  * (raphtory-cypher/src/lib.rs:88-115); this is our equivalent extension
  * point exercised for real (SURVEY §2.9): prefer (b) a custom Expression
  * over (d) opaque UDFs when Spark lacks the primitive.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // nullable even over non-null children: length mismatch / null element
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case t => throw new IllegalArgumentException(s"DotProduct needs arrays, got $t")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<float|double>, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    while (i < n) { if (x.isNullAt(i) || y.isNullAt(i)) return null; i += 1 }
    var acc = 0.0
    i = 0
    (elemType(left), elemType(right)) match {
      case (FloatType, FloatType) =>
        while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      case (DoubleType, DoubleType) =>
        while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      case (FloatType, DoubleType) =>
        while (i < n) { acc += x.getFloat(i).toDouble * y.getDouble(i); i += 1 }
      case (DoubleType, FloatType) =>
        while (i < n) { acc += x.getDouble(i) * y.getFloat(i).toDouble; i += 1 }
      case _ => throw new IllegalStateException
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(e: Expression, arr: String, i: String): String = elemType(e) match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${getter(left, a, i)} * ${getter(right, b, i)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  private val FnName = "graft_dot_product"

  /** Register the expression in the session's function registry (Spark 4
    * keeps Column↔Expression internal, so the Column API goes through
    * call_function on the registered name). Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FnName, exprs => DotProduct(exprs(0), exprs(1)), "built-in")

  /** Column API: dot product in double precision (requires register()). */
  def dot_product(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.call_function
    call_function(FnName, a, b)
  }
}
