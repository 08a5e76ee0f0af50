package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for per-document Shannon entropy over
  * Unicode code points, in bits — the classic cheap quality signal a
  * corpus-filtering pass computes on every document (cf. the reference's
  * row-level quality predicates, python.py:66-185, generalized per
  * SURVEY §2.10): machine-generated spam sits at the entropy extremes
  * (repeated padding is near 0 bits; base64/hex blobs are near
  * log2(alphabet)), while natural text occupies a stable mid band.
  *
  * Why a native expression and not explode+groupBy: entropy per doc via
  * `explode(split(text, ''))` shuffles one row PER CHARACTER — a 100 TB
  * corpus becomes a ~100-trillion-row exchange for what is a single
  * streaming pass over each string. This expression computes the
  * histogram and the entropy sum in one O(n) scan per row inside
  * WholeStageCodegen (both eval and the generated code call the same
  * static kernel, so interpreted and codegen paths cannot diverge),
  * and the per-code-point accumulation is summed in ascending code
  * point order so the result is deterministic and engine-portable —
  * the DuckDB oracle's float sum over a grouped histogram agrees to
  * well past the 6dp the registry rounds to.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_entropy expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any =
    CharEntropy.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharEntropy.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {

  private val Log2 = math.log(2.0)

  /** Shared kernel: one pass to count code points (sorted map keyed by
    * code point so the entropy sum has a fixed order), one pass over the
    * distinct alphabet (tiny) to fold -p*log2(p). Empty string -> 0.0. */
  def compute(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val counts = new java.util.TreeMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1
      i += Character.charCount(cp)
      n += 1
    }
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next()(0).toDouble / n
      h -= p * math.log(p) / Log2
    }
    h
  }

  /** `char_entropy(s)` as a Column. */
  def of(s: Column): Column =
    NativeColumn(CharEntropy(NativeColumn.expr(s)))
}
