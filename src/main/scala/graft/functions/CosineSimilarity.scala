package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression computing cosine similarity between two
  * embedding columns of `ArrayType(FloatType)` or `ArrayType(DoubleType)`
  * (each side independently), with whole-stage codegen (`doGenCode` emits
  * a tight primitive loop — no ArrayData boxing, no interpreted
  * higher-order functions). This is the hot-path kernel for similarity
  * joins: the brute-force HOF formulation (`aggregate(zip_with(...))`)
  * does not participate in codegen and interprets three lambda folds per
  * pair, which dominates an all-pairs kNN join; this expression keeps the
  * whole join stage compiled. The double overload exists because the
  * LSH/IVF paths carry `array<double>` vectors (their bucket projections
  * must accumulate as doubles for oracle parity), and casting back to
  * float would perturb the low bits.
  *
  * Arithmetic contract (oracle compatibility): accumulates dot product and
  * both squared norms in ascending element order as doubles (floats are
  * widened per element, exactly), result = dot / (sqrt(na) * sqrt(nb)) —
  * the same sequential fold the HOF formulation and the DuckDB oracle use,
  * so all three produce identical IEEE doubles. NULL when either norm is
  * zero, when the array lengths differ (matching [[DotProduct]] and the
  * `zip_with` pad-with-null fold, where the padded null poisons the
  * aggregate), or when any visited element is null (matching the HOF
  * fold); the per-element null check is emitted only for inputs whose
  * ArrayType admits null elements, so non-null arrays keep the
  * branch-free loop.
  */
case class CosineSimilarity(left: Expression, right: Expression)
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
      s"cosine_similarity expects two array<float>/array<double> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "cosine_similarity"

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
    var na = 0d
    var nb = 0d
    var i = 0
    while (i < n) {
      // a null element poisons the whole similarity (same as the HOF
      // formulation, where null propagates through the fold)
      if ((xMayHaveNulls && x.isNullAt(i)) || (yMayHaveNulls && y.isNullAt(i)))
        return null
      val xi = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0d) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      val sawNull = ctx.freshName("sawNull")
      val getX =
        if (isDoubleSide(left)) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getY =
        if (isDoubleSide(right)) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      // the null-element guard is only emitted for sides whose ArrayType
      // admits null elements — non-null-element arrays keep the tight
      // branch-free loop
      val nullChecks = Seq(
        if (xMayHaveNulls) Some(s"$a.isNullAt($i)") else None,
        if (yMayHaveNulls) Some(s"$b.isNullAt($i)") else None).flatten
      val nullGuard =
        if (nullChecks.isEmpty) ""
        else s"if (${nullChecks.mkString(" || ")}) { $sawNull = true; break; }"
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |boolean $sawNull = $n != $b.numElements();
         |if (!$sawNull) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    double $xi = $getX;
         |    double $yi = $getY;
         |    $dot += $xi * $yi;
         |    $na += $xi * $xi;
         |    $nb += $yi * $yi;
         |  }
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($sawNull || $denom == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / $denom;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** `cosine_similarity(a, b)` as a Column. */
  def of(a: Column, b: Column): Column =
    NativeColumn(CosineSimilarity(NativeColumn.expr(a), NativeColumn.expr(b)))
}
