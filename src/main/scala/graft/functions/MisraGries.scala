package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Misra–Gries heavy-hitters sketch as a Spark
  * `TypedImperativeAggregate` — the mergeable-summary aggregation shape
  * that makes approximate frequent-items viable at 100 TB: each map task
  * folds its partition into a ≤ k-counter summary, the shuffle carries
  * only serialized summaries (k entries, never the term stream), and
  * merges are associative with the mergeable-summaries error bound
  * (Agarwal et al., PODS '12). Guarantees after any merge tree:
  *
  *  - undercount only: est(x) ≤ true(x);
  *  - bounded error: true(x) − est(x) ≤ n / (k+1) ≤ n / k, n = stream size;
  *  - presence: every x with true(x) > n / (k+1) is in the summary.
  *
  * The result is a term → estimate map (keys emitted sorted for a
  * deterministic layout). Exact counts stay exact in the repo's
  * `corpus_top_terms`; this is the fixed-memory knob for when even the
  * term-keyed shuffle of an exact wordcount is too much — same contract
  * family as `approx_count_distinct` (HLL) and `approx_percentile`
  * (t-digest), which Spark ships natively but lacks for frequent items.
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
  with UnaryLike[Expression] {

  require(k >= 1, s"misra_gries needs k >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"misra_gries expects a string column, got ${child.dataType.simpleString}")

  override def dataType: DataType = MapType(StringType, LongType, false)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    // copy out of the reused row buffer before storing as a key
    val key = v.asInstanceOf[UTF8String].toString
    buf.get(key) match {
      case Some(c) => buf.update(key, c + 1)
      case None if buf.size < k => buf.update(key, 1L)
      case None =>
        // classic MG step: decrement every counter, drop the zeros
        val dead = mutable.ArrayBuffer.empty[String]
        buf.mapValuesInPlace { (_, c) => c - 1 }
        buf.foreach { case (t, c) => if (c <= 0) dead += t }
        dead.foreach(buf.remove)
    }
    buf
  }

  /** Mergeable-summaries merge: sum counters, then if over k, subtract the
    * (k+1)-th largest count from all and drop the non-positive. */
  override def merge(
      buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (t, c) => buf.update(t, buf.getOrElse(t, 0L) + c) }
    if (buf.size > k) {
      val cut = buf.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      buf.mapValuesInPlace { (_, c) => c - cut }
      buf.foreach { case (t, c) => if (c <= 0) dead += t }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val entries = buf.toArray.sortBy(_._1)
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => UTF8String.fromString(e._1): Any)),
      new GenericArrayData(entries.map(e => e._2: Any)))
  }

  // Length-prefixed raw UTF-8, not DataOutputStream.writeUTF: writeUTF
  // throws UTFDataFormatException past 65535 encoded bytes, so a single
  // pathological whitespace-free token would crash the aggregate at
  // spill/shuffle time. Raw bytes have no length ceiling.
  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) =>
      val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      buf.update(new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGries =
    copy(child = newChild)
}

object MisraGries {

  /** `misra_gries(col, k)` as an aggregate Column. */
  def of(c: Column, k: Int): Column =
    NativeColumn(MisraGries(NativeColumn.expr(c), k).toAggregateExpression())
}
