package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Df-capped list collection as ONE `TypedImperativeAggregate` —
  * `capped_list(struct, cap)` returns the group's rows as an array when
  * the group has ≤ cap rows and NULL when it is over the cap (a "hot"
  * group). This fuses the inverted-index kernels' two-pass hot-key guard
  * (a df-count aggregate + a broadcast anti-join + a `collect_list`
  * aggregate, each a full pass over the exploded posting stream) into a
  * single aggregation (guide §2.4: remove passes outright), while
  * keeping the guard's memory bound: the buffer holds at most cap+1
  * rows — the moment a group exceeds the cap it collapses to a boolean
  * `hot` marker and its contents are discarded, so a corpus-scale hot
  * shingle costs one flag per partial buffer, never an unbounded list
  * (the exact property the anti-join existed to provide). Partial
  * (map-side) buffers are capped the same way, so shuffled partial
  * states carry ≤ cap+0 rows per group per mapper and merges saturate
  * to `hot` as soon as combined sizes exceed the cap.
  *
  * Equivalence to the two-pass form (DedupSpec pins the kernels'
  * outputs; the oracle SQL keeps the HAVING-count formulation):
  * a group survives iff its TOTAL row count ≤ cap — identical to
  * "anti-join keys with count > cap, then collect" — and the surviving
  * groups' contents are the same row multiset (callers `sort_array` the
  * result exactly as they sorted the collected list). Rows are stored
  * as copied `UnsafeRow`s via a projection of the child struct, so the
  * aggregate is generic over the kernels' struct shapes
  * ((doc_id, n) for the Jaccard/containment index, (doc_id, n, is_new)
  * for the incremental variant). */
case class CappedStructList(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedStructList.Buf]
  with UnaryLike[Expression] {

  require(cap >= 1, s"capped_list needs cap >= 1, got $cap")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"capped_list expects a struct column, got ${other.simpleString}")
  }

  @transient private lazy val structType =
    child.dataType.asInstanceOf[StructType]
  @transient private lazy val proj = UnsafeProjection.create(structType)

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "capped_list"

  override def createAggregationBuffer(): CappedStructList.Buf =
    new CappedStructList.Buf(false, mutable.ArrayBuffer.empty)

  override def update(
      buf: CappedStructList.Buf, input: InternalRow): CappedStructList.Buf = {
    if (buf.hot) return buf
    val v = child.eval(input)
    if (v == null) return buf // collect_list's null-skip contract
    buf.items += proj(v.asInstanceOf[InternalRow]).copy()
    if (buf.items.size > cap) { buf.hot = true; buf.items.clear() }
    buf
  }

  override def merge(
      buf: CappedStructList.Buf,
      other: CappedStructList.Buf): CappedStructList.Buf = {
    if (buf.hot) return buf
    if (other.hot) { buf.hot = true; buf.items.clear(); return buf }
    buf.items ++= other.items
    if (buf.items.size > cap) { buf.hot = true; buf.items.clear() }
    buf
  }

  override def eval(buf: CappedStructList.Buf): Any =
    if (buf.hot) null
    else new GenericArrayData(buf.items.toArray[Any])

  override def serialize(buf: CappedStructList.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeBoolean(buf.hot)
    out.writeInt(buf.items.size)
    buf.items.foreach { r =>
      val b = r.getBytes
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CappedStructList.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val hot = in.readBoolean()
    val n = in.readInt()
    val items = mutable.ArrayBuffer.empty[UnsafeRow]
    var i = 0
    while (i < n) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      val r = new UnsafeRow(structType.size)
      r.pointTo(b, b.length)
      items += r
      i += 1
    }
    new CappedStructList.Buf(hot, items)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedStructList =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedStructList =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CappedStructList =
    copy(child = newChild)
}

object CappedStructList {

  /** Aggregation state: `hot` = the group exceeded the cap (contents
    * discarded, result NULL); otherwise the collected rows so far. */
  final class Buf(var hot: Boolean, val items: mutable.ArrayBuffer[UnsafeRow])

  /** `capped_list(struct, cap)` as an aggregate Column. */
  def of(struct: Column, cap: Int): Column =
    NativeColumn(CappedStructList(NativeColumn.expr(struct), cap).toAggregateExpression())
}
