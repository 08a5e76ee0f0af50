package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression computing a moving-window energy envelope
  * over an int sample array — `moving_energy(sm, window, frames)` with
  * `E(f) = Σ_{j<window} sm(f+j)²` as exact longs, replacing the
  * interpreted higher-order chain
  * `zip_with(zip_with(sl(1), sl(2), _+_), zip_with(sl(3), sl(4), _+_), _+_)`
  * over `sl(off) = slice(transform(sm, x -> xᴸ·xᴸ), off, frames)` —
  * which is `CodegenFallback` and allocates the squares array, four
  * slices, and three zipped arrays PER ROW (r22 §11; the perceptual
  * audio fingerprint's envelope stage). Long addition is associative
  * exactly, so any summation order equals the original's pairwise
  * tree. Edge semantics replicate the slice/zip_with contract
  * (PerceptualKernelsSpec pins them): the result has
  * `min(frames, len)` elements; element f is NULL when the window runs
  * past the end of the array (`zip_with` pads the shorter slice with
  * nulls, and `null + x` is null) or touches a NULL sample; a NULL
  * array is NULL. `window`/`frames` must be foldable ints ≥ 1 / ≥ 0;
  * callers keep windows small enough that `window · maxInt²` fits a
  * long (the audio family's 4 × 16-bit samples are ~2³²).
  */
case class MovingEnergy(first: Expression, second: Expression,
                        third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val arrOk = first.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (!arrOk || second.dataType != IntegerType || !second.foldable ||
      third.dataType != IntegerType || !third.foldable)
      return TypeCheckResult.TypeCheckFailure(
        "moving_energy expects (array<int>, foldable int window, foldable int frames)")
    val w = second.eval()
    if (w == null || w.asInstanceOf[Int] < 1)
      return TypeCheckResult.TypeCheckFailure(
        s"moving_energy window must be >= 1, got $w")
    val fr = third.eval()
    if (fr == null || fr.asInstanceOf[Int] < 0)
      return TypeCheckResult.TypeCheckFailure(
        s"moving_energy frames must be >= 0, got $fr")
    TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def prettyName: String = "moving_energy"

  override def nullSafeEval(arr: Any, w: Any, fr: Any): Any =
    MovingEnergy.compute(arr.asInstanceOf[ArrayData],
      w.asInstanceOf[Int], fr.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, w, fr) =>
      s"${ev.value} = graft.functions.MovingEnergy.compute($arr, $w, $fr);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): MovingEnergy =
    copy(first = f, second = s, third = t)
}

object MovingEnergy {

  /** Shared kernel (interpreted eval and codegen both land here). */
  def compute(arr: ArrayData, window: Int, frames: Int): ArrayData = {
    val len = arr.numElements()
    val n = math.min(frames, len)
    val out = new Array[Any](n)
    var f = 0
    while (f < n) {
      if (f + window > len) out(f) = null
      else {
        var s = 0L
        var ok = true
        var j = f
        while (ok && j < f + window) {
          if (arr.isNullAt(j)) ok = false
          else {
            val v = arr.getInt(j).toLong
            s += v * v
          }
          j += 1
        }
        out(f) = if (ok) java.lang.Long.valueOf(s) else null
      }
      f += 1
    }
    new GenericArrayData(out)
  }

  /** `moving_energy(sm, window, frames)` as a Column. */
  def of(sm: Column, window: Int, frames: Int): Column =
    NativeColumn(MovingEnergy(NativeColumn.expr(sm), Literal(window), Literal(frames)))
}
