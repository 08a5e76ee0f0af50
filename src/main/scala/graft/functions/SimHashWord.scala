package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native Catalyst expression for the 60-bit SimHash fingerprint of a
  * document's shingle set: `simhash_word(shingles, word)` folds the ±1
  * per-bit votes of every shingle's md5-derived hash in one O(shingles·60)
  * pass per row and packs the majority bits into a long. `word` selects
  * which 15-hex-digit slice of the md5 supplies the 60 hash bits (0 =
  * chars 1-15, 1 = chars 16-30), so the 120-bit wide fingerprint is two
  * calls over the same array.
  *
  * Why a native expression and not explode+groupBy: the vote aggregate
  * ([[graft.llm.Dedup.simhashFingerprintsVoteAgg]], the formulation the
  * DuckDB oracle mirrors) explodes one row PER SHINGLE and shuffles the
  * whole shingle stream back onto doc_id — at corpus scale the fingerprint
  * stage alone exchanges ~100 rows per document. Every vote only ever
  * reads its own row's shingles, so the fingerprint is row-local: this
  * expression removes that shuffle entirely (fingerprinting becomes a map
  * stage), and runs inside WholeStageCodegen — eval and generated code
  * call the same static kernel, so interpreted and codegen paths cannot
  * diverge.
  *
  * Bit-for-bit contract with the vote aggregate (pinned corpus-wide for
  * both words in DedupSpec): hash = conv(substring(md5(s), 15·word+1, 15),
  * 16, 10) — the word-th 15-nibble big-endian slice of the digest — and
  * bit j of the result is set iff strictly more than half the shingles
  * have bit j of their hash set (the ±1 vote sum is positive). Null
  * shingle elements are skipped (the shingle builder never emits them);
  * an all-null or empty array fingerprints to 0.
  */
case class SimHashWord(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) =>
      if (right.dataType != IntegerType || !right.foldable)
        TypeCheckResult.TypeCheckFailure(
          "simhash_word expects a foldable integer word index (0 or 1)")
      else right.eval() match {
        case w: Integer if w == 0 || w == 1 => TypeCheckResult.TypeCheckSuccess
        case w => TypeCheckResult.TypeCheckFailure(
          s"simhash_word word index must be 0 or 1, got $w")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_word expects array<string> shingles, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash_word"

  override def nullSafeEval(arr: Any, word: Any): Any =
    SimHashWord.compute(arr.asInstanceOf[ArrayData], word.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, w) => s"graft.functions.SimHashWord.compute($a, $w)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHashWord =
    copy(left = newLeft, right = newRight)
}

object SimHashWord {

  private val Bits = 60
  private val NibblesPerWord = 15

  private val md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** Shared eval/codegen kernel: one digest + 60 vote updates per shingle,
    * then one majority pass. The word-th 15-nibble slice is read straight
    * from the digest bytes (high nibble first), which is exactly the
    * numeric value of hex chars [15·word+1, 15·word+15] of md5's string
    * form — 60 bits, always non-negative in a signed long. */
  def compute(arr: ArrayData, word: Int): Long = {
    val votes = new Array[Int](Bits)
    val digestor = md5.get()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        digestor.reset()
        val d = digestor.digest(arr.getUTF8String(i).getBytes)
        var h = 0L
        var nib = word * NibblesPerWord
        val end = nib + NibblesPerWord
        while (nib < end) {
          val b = d(nib >> 1) & 0xff
          h = (h << 4) | (if ((nib & 1) == 0) b >>> 4 else b & 0xf)
          nib += 1
        }
        var j = 0
        while (j < Bits) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < Bits) {
      if (votes(j) > 0) sim |= 1L << j
      j += 1
    }
    sim
  }

  /** `simhash_word(shingles, word)` as a Column. */
  def of(shingles: Column, word: Int): Column =
    NativeColumn(SimHashWord(NativeColumn.expr(shingles), Literal(word)))
}
