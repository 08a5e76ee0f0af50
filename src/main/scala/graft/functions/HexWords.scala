package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression decoding a hex payload string into an
  * `array<int>` of fixed-width words in one pass —
  * `hex_words(h, width, n, signed)` replaces the interpreted
  * higher-order idiom
  * `transform(sequence(0, n-1), i -> conv(substr(h, i*width+1, width), 16, 10).cast("int"))`
  * (plus the audio family's signed-16-bit `when(raw >= 32768, raw - 65536)`
  * adjustment when `signed`). The HOF form is `CodegenFallback`: every
  * row pays n interpreted lambda evaluations, n UTF8String `substr`
  * allocations, and n string-radix `conv` parses — measured as the
  * dominant per-row cost of the perceptual media/audio decode at the
  * 25× rehearsal (r22 §11). This expression emits the identical int
  * array from one scan of the hex chars with a single output
  * allocation, inside whole-stage codegen (shared static kernel, so
  * interpreted and codegen paths cannot diverge).
  *
  * Exact-parity contract (PerceptualKernelsSpec pins it): for inputs
  * whose referenced slice consists of hex chars `[0-9a-fA-F]` — every
  * call site feeds md5-hex concatenations, which are total on that
  * alphabet — word i equals the original expression's element i,
  * including the signed adjustment (`v - 2^(4·width)` when
  * `v ≥ 2^(4·width - 1)`). Slices that run past the end of the string
  * (`substr` clamps, `conv(\"\") → NULL`) and slices containing a
  * non-hex char produce a NULL element, so malformed input degrades the
  * same way the original degraded rather than throwing. `width`/`n`/
  * `signed` must be foldable; `width ≤ 7` keeps every word in a
  * non-negative int before the sign adjustment.
  */
case class HexWords(first: Expression, second: Expression,
                    third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = first.dataType == StringType && second.dataType == IntegerType &&
      third.dataType == IntegerType && fourth.dataType == BooleanType &&
      second.foldable && third.foldable && fourth.foldable
    if (!ok) return TypeCheckResult.TypeCheckFailure(
      "hex_words expects (string, foldable int width, foldable int n, foldable boolean signed)")
    val w = second.eval()
    if (w == null || w.asInstanceOf[Int] < 1 || w.asInstanceOf[Int] > 7)
      return TypeCheckResult.TypeCheckFailure(
        s"hex_words width must be in [1, 7], got $w")
    val n = third.eval()
    if (n == null || n.asInstanceOf[Int] < 0)
      return TypeCheckResult.TypeCheckFailure(
        s"hex_words n must be >= 0, got $n")
    TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  /** Never null — matching the original `transform(sequence(0, n-1), ...)`
    * shape, whose outer array exists even for a NULL input string (each
    * `conv(substr(NULL, ...))` element is null, the array is not). */
  override def nullable: Boolean = false

  override def prettyName: String = "hex_words"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val h = first.eval(input)
    val w = second.eval(input).asInstanceOf[Int]
    val n = third.eval(input).asInstanceOf[Int]
    val s = fourth.eval(input).asInstanceOf[Boolean]
    if (h == null) HexWords.nullWords(n)
    else HexWords.decode(h.asInstanceOf[UTF8String], w, n, s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hEv = first.genCode(ctx)
    val wEv = second.genCode(ctx)
    val nEv = third.genCode(ctx)
    val sEv = fourth.genCode(ctx)
    val code =
      s"""
         |${hEv.code}
         |${wEv.code}
         |${nEv.code}
         |${sEv.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  ${hEv.isNull}
         |    ? graft.functions.HexWords.nullWords(${nEv.value})
         |    : graft.functions.HexWords.decode(${hEv.value}, ${wEv.value},
         |        ${nEv.value}, ${sEv.value});
       """.stripMargin
    ev.copy(
      code = org.apache.spark.sql.catalyst.expressions.codegen.Block
        .BlockHelper(new StringContext(code)).code(),
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): HexWords =
    copy(first = f, second = s, third = t, fourth = q)
}

object HexWords {

  /** The NULL-input image: n null words (the array itself non-null). */
  def nullWords(n: Int): ArrayData = new GenericArrayData(new Array[Any](n))

  /** Shared kernel (interpreted eval and codegen both land here). */
  def decode(h: UTF8String, width: Int, n: Int, signed: Boolean): ArrayData = {
    val str = h.toString
    val out = new Array[Any](n)
    val signBit = 1 << (4 * width - 1)
    val signSpan = 1 << (4 * width)
    var i = 0
    while (i < n) {
      val from = i * width
      // substr clamps to the string end; an empty slice is conv("") = NULL
      val to = math.min(from + width, str.length)
      if (from >= to) out(i) = null
      else {
        var v = 0
        var ok = true
        var j = from
        while (ok && j < to) {
          val c = str.charAt(j)
          val d =
            if (c >= '0' && c <= '9') c - '0'
            else if (c >= 'a' && c <= 'f') c - 'a' + 10
            else if (c >= 'A' && c <= 'F') c - 'A' + 10
            else -1
          if (d < 0) ok = false else v = (v << 4) | d
          j += 1
        }
        out(i) =
          if (!ok) null
          else if (signed && v >= signBit) Integer.valueOf(v - signSpan)
          else Integer.valueOf(v)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `hex_words(h, width, n, signed)` as a Column. */
  def of(h: Column, width: Int, n: Int, signed: Boolean): Column =
    NativeColumn(HexWords(NativeColumn.expr(h), Literal(width), Literal(n), Literal(signed)))
}
