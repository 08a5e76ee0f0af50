package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the 31-base polynomial rolling hash mod
  * 1e9+7 over a string's code points — the document-fingerprint kernel.
  * Semantically identical to the higher-order formulation
  * `aggregate(transform(sequence(1, length(s)), i -> ascii(substr(s,i,1))),
  * 0L, (acc,c) -> (acc*31+c) % 1000000007)` (and the DuckDB list_reduce
  * oracle), but the fold runs as one compiled loop instead of ~length
  * interpreted lambda frames per row — measured 3 s → sub-second over the
  * sf0.1 corpus. Both eval and the generated code call the same static
  * kernel, so interpreted and codegen paths cannot diverge.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_hash expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any =
    PolyHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  final val Mod = 1000000007L
  final val Base = 31L

  /** Shared kernel: fold over code points (== ascii() per character for the
    * BMP, and per byte for ASCII corpora). */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * Base + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** `poly_hash(s)` as a Column. */
  def of(s: Column): Column =
    NativeColumn(PolyHash(NativeColumn.expr(s)))
}
