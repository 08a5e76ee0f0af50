package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression computing the dot product of two
  * `array<float>`/`array<double>` columns (each side independently typed),
  * with whole-stage codegen — the projection kernel behind the LSH bucket
  * codes in [[graft.llm.Similarity]].
  *
  * Why this exists: a signed hyperplane projection spelled out as a sum of
  * `element_at` terms is a 64-node expression PER PLANE. The multi-table
  * dedup path carries 8 tables × 6 planes = 3072 nodes, duplicated across
  * both sides of its bucket self-join — the generated Java exceeded
  * Janino's method limits (observed: a ~13.7k-line compile unit failing
  * with InternalCompilerException), so every executor fell back to
  * interpreted evaluation and the query ran 22-29 s at sf0.1. As
  * `dot_product(ed, <literal ±1 array>)` each plane is ONE codegen'd loop
  * node; the whole bucket expression compiles and the same query runs in
  * well under a second.
  *
  * Arithmetic contract (oracle compatibility): accumulates in ascending
  * element order as doubles (floats widened per element, exactly). For ±1
  * weight vectors this is bit-identical to the DuckDB oracle's textual
  * `(+ ed[1] - ed[2] - ...)` form: both are left-to-right double
  * accumulations, and multiplication by ±1.0 is exact in IEEE 754, so
  * `acc + ed[i]*w[i]` and `acc ± ed[i]` are the same double at every step.
  * NULL when either array is null, when the arrays differ in length, or
  * when any visited element is null — matching the
  * `aggregate(zip_with(...))` HOF fold, where `zip_with` pads the shorter
  * array with nulls and the null then poisons the fold. The per-element
  * null check is emitted only for inputs whose ArrayType admits null
  * elements.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(elemType(_).isDefined)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects two array<float>/array<double> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "dot_product"

  private def isDoubleSide(e: Expression): Boolean =
    elemType(e).contains(DoubleType)

  // hoisted: dataType pattern-matching must not run once per interpreted row
  @transient private lazy val xd = isDoubleSide(left)
  @transient private lazy val yd = isDoubleSide(right)
  @transient private lazy val xMayHaveNulls = left.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }
  @transient private lazy val yMayHaveNulls = right.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0d
    var i = 0
    while (i < n) {
      if ((xMayHaveNulls && x.isNullAt(i)) || (yMayHaveNulls && y.isNullAt(i)))
        return null
      val xi = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val sawNull = ctx.freshName("sawNull")
      val getX =
        if (isDoubleSide(left)) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getY =
        if (isDoubleSide(right)) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      val nullChecks = Seq(
        if (xMayHaveNulls) Some(s"$a.isNullAt($i)") else None,
        if (yMayHaveNulls) Some(s"$b.isNullAt($i)") else None).flatten
      val nullGuard =
        if (nullChecks.isEmpty) ""
        else s"if (${nullChecks.mkString(" || ")}) { $sawNull = true; break; }"
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0;
         |boolean $sawNull = $n != $b.numElements();
         |if (!$sawNull) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    $dot += ($getX) * ($getY);
         |  }
         |}
         |if ($sawNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** `dot_product(a, b)` as a Column. */
  def of(a: Column, b: Column): Column =
    NativeColumn(DotProduct(NativeColumn.expr(a), NativeColumn.expr(b)))
}
