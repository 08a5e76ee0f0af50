package graft.functions

import java.util.{Map => JMap, TreeMap => JTreeMap}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for row-local term-frequency counting:
  * `term_counts(arr)` folds a string array into one entry per DISTINCT
  * element — `array<struct<term string, tf bigint>>`, terms in binary
  * (UTF8) ascending order — in a single O(k log d) pass per row.
  *
  * Why a native expression and not explode+groupBy: term frequencies
  * only read the row's own tokens, yet the aggregate formulation
  * explodes one row PER OCCURRENCE and shuffles the whole
  * duplicate-bearing token stream onto (doc_id, term) — for the TF-IDF
  * kernels that stream is the largest intermediate in the plan. And why
  * not SQL higher-order functions: the run-count formulation
  * (`array_sort` + run-start `filter` + indexed `transform`) references
  * its sorted array from inside lambda bodies, and projection collapsing
  * inlines the defining expression into every `element_at` call — the
  * sort (and anything below it, including the tokenizing regex split)
  * re-evaluates PER ELEMENT, turning a linear pass super-cubic (measured:
  * a hang at sf0.01 on whitespace tokens). A native kernel evaluates its
  * child exactly once; eval and generated code call the same static
  * kernel, so interpreted and codegen paths cannot diverge.
  *
  * Contract (pinned corpus-wide in TermCountsSpec against the exploded
  * groupBy recount): null elements are skipped; a null array yields
  * null; an empty (or all-null) array yields an empty result. tf is the
  * exact occurrence count, terms are unique and sorted ascending by
  * binary UTF8 comparison (consumers explode immediately, so the order
  * is a determinism convenience, not a semantic dependency).
  */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"term_counts expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = TermCounts.OutType

  override def prettyName: String = "term_counts"

  override def nullSafeEval(arr: Any): Any =
    TermCounts.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TermCounts.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCounts {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  /** Shared eval/codegen kernel: one ordered-map pass over the row's
    * array, then one emit pass in key order. */
  def compute(arr: ArrayData): ArrayData = {
    val counts = new JTreeMap[UTF8String, Array[Long]]()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        val c = counts.get(t)
        if (c == null) counts.put(t, Array(1L)) else c(0) += 1L
      }
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e: JMap.Entry[UTF8String, Array[Long]] = it.next()
      out(j) = InternalRow(e.getKey, e.getValue()(0))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** `term_counts(arr)` as a Column. */
  def of(arr: Column): Column =
    NativeColumn(TermCounts(NativeColumn.expr(arr)))
}
