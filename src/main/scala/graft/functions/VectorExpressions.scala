package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => CB}
import org.apache.spark.sql.types._

object VectorKernels {

  /** Semantics of `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)`
    * for the defined case: length mismatch or a null element makes the HOF
    * result null (zip_with pads with nulls and null poisons the fold), so
    * the expression mirrors that through [[dotDefined]]. */
  def dotDefined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Sequential left fold in index order — bit-identical to the SQL HOF
    * formulation (IEEE addition is order-sensitive; the oracle hashes
    * depend on this order), but one JIT-compiled loop instead of two
    * interpreted lambda evaluations per element. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Squared euclidean distance, same fold order as
    * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0d, (acc,v) -> acc+v)`. */
  def sqdist(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Shared shape/type contract of the binary array<double> kernels. */
trait DoubleArrayInputs { self: BinaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> arguments, got " +
        children.map(_.dataType.catalogString).mkString(", "))
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null on length mismatch / null element
  override def nullIntolerant: Boolean = true
}

/** Codegen'd dot product of two array<double> columns — the inner loop of
  * every similarity operator (cosine top-k, LSH signatures/verification).
  * The HOF formulation it replaces does not participate in whole-stage
  * codegen (higher-order lambdas are interpreted per element);
  * at 10^9 × 64d vectors that interpreter overhead dominates the scan. */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression with DoubleArrayInputs {
  override def prettyName: String = "array_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (aa, ba) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (VectorKernels.dotDefined(aa, ba)) VectorKernels.dot(aa, ba) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if (graft.functions.VectorKernels.dotDefined($a, $b)) {
         |  ${ev.value} = graft.functions.VectorKernels.dot($a, $b);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayDot =
    copy(left = l, right = r)
}

/** Codegen'd squared euclidean distance (the SQL-registered
  * `array_sqdist`). */
case class ArraySqDist(left: Expression, right: Expression)
    extends BinaryExpression with DoubleArrayInputs {
  override def prettyName: String = "array_sqdist"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (aa, ba) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (VectorKernels.dotDefined(aa, ba)) VectorKernels.sqdist(aa, ba) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if (graft.functions.VectorKernels.dotDefined($a, $b)) {
         |  ${ev.value} = graft.functions.VectorKernels.sqdist($a, $b);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArraySqDist =
    copy(left = l, right = r)
}

object VectorFunctions {
  def array_dot(a: Column, b: Column): Column =
    CB.column(ArrayDot(CB.expression(a), CB.expression(b)))
  def array_sqdist(a: Column, b: Column): Column =
    CB.column(ArraySqDist(CB.expression(a), CB.expression(b)))

  def registerAll(spark: SparkSession): Unit =
    FunctionTable.register(spark, FunctionTable.byName("array_dot", "array_sqdist"))
}
