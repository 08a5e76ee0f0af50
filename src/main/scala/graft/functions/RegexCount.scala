package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression counting non-overlapping matches of a Java
  * regex in a string — the counting-only replacement for the
  * `size(regexp_extract_all(s, re, 0))` idiom (r22, guide §1.2 step 2 /
  * brief §4: per-task work in the hot scan stage).
  *
  * Spark 4's built-in `regexp_count` is `RuntimeReplaceable` and expands
  * to exactly `Size(RegExpExtractAll(...))` (checked against the 4.1.2
  * catalyst jar), so every counting call site pays for materializing an
  * array of matched substrings — one UTF8String copy per match plus a
  * GenericArrayData per row — that is discarded by `size()`. On the
  * quality-scorer scan (3 counting regexes per document) that
  * allocation is the dominant per-row cost after the regex engine
  * itself. This expression runs the SAME `while (m.find()) c += 1` loop
  * over the SAME `java.util.regex` engine with the same default flags
  * and just counts, so the result is equal to
  * `size(regexp_extract_all(s, re, 0))` BY CONSTRUCTION — including
  * zero-width-match advancement, Unicode/supplementary code points, and
  * null propagation (null input or null pattern → null, matching
  * `size(regexp_extract_all(...))` under the non-legacy `sizeOfNull`).
  *
  * Two derived identities the call sites rely on (RegexCountSpec pins
  * both against the original formulations):
  *
  *  - `size(split(trim(s), re))` = `regex_count(trim(s), re) + 1` for
  *    any pattern that cannot match the empty string (Spark's
  *    `StringSplit` with its default limit -1 delegates to Java
  *    `Pattern.split`, which emits exactly one piece per separator
  *    match plus one — leading/trailing separator matches produce empty
  *    leading/trailing pieces, which the `+ 1` form counts identically;
  *    the empty-input case gives `[""]` = 0 + 1 on both sides).
  *  - `length(regexp_replace(s, "\\s+", ""))` =
  *    `length(s) - regex_count(s, "\\s")` — each whitespace char is
  *    exactly one non-overlapping match of the single-char class.
  *
  * The compiled Pattern is built ONCE per query when the pattern is
  * foldable (a reference object in codegen, mirroring Spark's `RLike`),
  * with a last-regex cache on the interpreted path; interpreted and
  * codegen paths share the one static kernel so they cannot diverge.
  */
case class RegexCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = left.dataType == StringType && right.dataType == StringType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"regex_count expects two string arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "regex_count"

  // interpreted-path pattern cache, the RLike idiom: recompile only when
  // the regex value changes (it never does at our call sites — the
  // pattern is a literal — but correctness does not depend on that)
  @transient private var lastRegex: UTF8String = _
  @transient private var pattern: Pattern = _

  override def nullSafeEval(s: Any, r: Any): Any = {
    val regex = r.asInstanceOf[UTF8String]
    if (pattern == null || lastRegex != regex) {
      lastRegex = regex.clone()
      pattern = Pattern.compile(regex.toString)
    }
    RegexCount.count(s.asInstanceOf[UTF8String], pattern)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (right.foldable && right.eval() != null) {
      val compiled = Pattern.compile(right.eval().toString)
      val ref = ctx.addReferenceObj("regexCountPattern", compiled)
      nullSafeCodeGen(ctx, ev, (s, _) =>
        s"${ev.value} = graft.functions.RegexCount.count($s, $ref);")
    } else {
      nullSafeCodeGen(ctx, ev, (s, r) =>
        s"${ev.value} = graft.functions.RegexCount.countUncached($s, $r);")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RegexCount =
    copy(left = newLeft, right = newRight)
}

object RegexCount {

  /** Shared kernel (interpreted eval and codegen both land here): count
    * `find()` successes — the exact loop `RegExpExtractAll` runs, minus
    * the per-match substring materialization. */
  def count(s: UTF8String, p: Pattern): Int = {
    val m = p.matcher(s.toString)
    var c = 0
    while (m.find()) c += 1
    c
  }

  /** Non-foldable-pattern fallback: compile per row (correct, never hit
    * by the registry's literal-pattern call sites). */
  def countUncached(s: UTF8String, regex: UTF8String): Int =
    count(s, Pattern.compile(regex.toString))

  /** `regex_count(s, re)` as a Column. */
  def of(s: Column, re: String): Column =
    NativeColumn(RegexCount(NativeColumn.expr(s), Literal(re)))
}
