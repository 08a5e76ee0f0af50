package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** Native Catalyst expression expanding a sorted in-row list into its
  * C(n,2) ordered element pairs in one pass —
  * `ordered_pairs(xs)` returns `array<struct<a, b>>` with one struct per
  * (i, j), i < j, in (i asc, j asc) order, replacing the interpreted
  * higher-order idiom
  * `flatten(transform(xs, (a, i) -> transform(slice(xs, i + 2, size(xs) - i - 1), b -> named_struct('a', a, 'b', b))))`
  * used by every posting-list / vocabulary pair expansion (the
  * inverted-index dedup kernels, `source_overlap_matrix`,
  * `basket_part_pairs`). The HOF form is `CodegenFallback`: each row pays
  * n interpreted lambda frames, n `slice` array copies, n inner arrays,
  * and a `flatten` copy before `explode` ever sees a pair — measured as
  * ~35% of `basket_part_pairs` at the 25× rehearsal (r22 §12). This
  * expression emits the identical struct array from one nested loop with
  * a single output allocation, inside whole-stage codegen (shared static
  * kernel, so interpreted and codegen paths cannot diverge).
  *
  * Exact-parity contract (OrderedPairsSpec pins it against the HOF form):
  * same pairs, same order, same element references (no reordering, no
  * dedup — duplicates pair like any other element), NULL array → NULL,
  * n < 2 → empty array, NULL elements ride into the structs unchanged.
  * Pair count is n(n-1)/2; callers bound n (df-capped posting lists,
  * per-order baskets, per-shingle source sets), matching the bound the
  * HOF form already implied.
  */
case class OrderedPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ordered_pairs expects an array, got ${t.simpleString}")
  }

  private def elemType: ArrayType = child.dataType.asInstanceOf[ArrayType]

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", elemType.elementType, elemType.containsNull),
      StructField("b", elemType.elementType, elemType.containsNull))),
    containsNull = false)

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "ordered_pairs"

  override def nullSafeEval(arr: Any): Any =
    OrderedPairs.pairs(arr.asInstanceOf[ArrayData], elemType.elementType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("elemType", elemType.elementType,
      classOf[DataType].getName)
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.OrderedPairs.pairs($arr, $et);")
  }

  override protected def withNewChildInternal(c: Expression): OrderedPairs =
    copy(child = c)
}

object OrderedPairs {

  /** Shared kernel (interpreted eval and codegen both land here). Element
    * values are referenced, not copied — the same convention as the
    * built-in `Slice`/`Flatten` this replaces; consumers (explode into a
    * hash aggregate) copy on retention exactly as they did before. */
  def pairs(arr: ArrayData, et: DataType): ArrayData = {
    val n = arr.numElements()
    val elems = new Array[Any](n)
    var i = 0
    while (i < n) {
      elems(i) = if (arr.isNullAt(i)) null else arr.get(i, et)
      i += 1
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(elems(i), elems(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `ordered_pairs(xs)` as a Column. */
  def of(xs: Column): Column =
    NativeColumn(OrderedPairs(NativeColumn.expr(xs)))
}
