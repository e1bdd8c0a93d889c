package graft.plans

import java.nio.ByteBuffer
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-implementation fingerprint, BIT-COMPATIBLE with the
  * composed two-stage chain (round 13, VERDICT r12 #4):
  *
  * {{{
  *   s1 = groupBy(impl, seg).agg(
  *          to_json(orderedCollect(ord, v)).as("sig"))       // trace
  *   s2 = s1.groupBy(impl).agg(
  *          to_json(orderedCollect(seg, md5(sig))).as("fp")) // fingerprint
  * }}}
  *
  * computed as ONE aggregation keyed by `impl` alone. Why: the composed
  * form's first groupBy materializes one collect_list buffer PER
  * (impl, seg) group — on q09's lineitem analog that is ~0.97 groups
  * per input row, so the ObjectHashAggregate machinery (per-group
  * ArrayBuffer, a partial→final serialize/deserialize round per group,
  * array_sort + interpreted to_json per group) runs ~N times for N
  * rows and dominates the query: measured at sf3 the composed chain's
  * aggregation slice is ~12–19 s of a 16–23 s query while a
  * single-aggregation shape of the same buffer/eval cost runs in
  * 5.3 s (per-stage decomposition at sf3; the fused shape has
  * #impls buffers — 3k at sf3 — instead of 17.4M). The shuffle itself
  * was never the cost: buffers of raw (seg, ord, v) rows carry the
  * same bytes the raw-row exchange did (§2.3 — the BYTES are equal,
  * the per-group overheads are not).
  *
  * Bit-parity (spec-asserted, NativeAggCheckSpec property-tested): the
  * eval sorts the buffered rows once by (seg, ord, value) (SQL
  * grouping: NULL seg is one segment, sorted first), computes each
  * segment's `md5(to_json(list(v ORDER BY ord, v)))` with
  * [[OrderedSigAgg]]'s renderer — the aggregate already spec-pinned
  * bit-compatible with the composed expression chain AND its DuckDB
  * mirror — and renders the outer
  * `to_json(list(md5sig ORDER BY seg, md5sig))`. Segment keys are
  * distinct by construction, so the (seg, md5sig) sort never reaches
  * the md5sig tie-break the composed struct sort would apply; ordering
  * by seg alone is identical.
  *
  * Serialize/deserialize round-trips for partial-merge (spec-exercised
  * via repartition) — cluster-correct, not local-mode-only. Buffer
  * growth is the per-impl trace volume, the same array the composed
  * s2 materializes per group; the fused form holds the (ord, v) detail
  * instead of the segment digests, a constant-factor trade bounded by
  * the declared semantics themselves.
  */
case class SigListAgg(
    seg: Expression, ord: Expression, value: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[SigListAgg.Row]] {

  import SigListAgg.Row

  override def children: Seq[Expression] = Seq(seg, ord, value)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_sig_list"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val segOk = seg.dataType == LongType || seg.dataType == IntegerType
    val ok = segOk && ord.dataType == IntegerType &&
      value.dataType == StringType
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_sig_list needs (bigint/int seg, int ord, string value), " +
          s"got (${seg.dataType.simpleString}, " +
          s"${ord.dataType.simpleString}, ${value.dataType.simpleString})")
  }

  @transient private lazy val segIsLong: Boolean =
    seg.dataType == LongType

  override def createAggregationBuffer(): ArrayBuffer[Row] =
    ArrayBuffer.empty

  override def update(buf: ArrayBuffer[Row],
      input: InternalRow): ArrayBuffer[Row] = {
    val s = seg.eval(input)
    val o = ord.eval(input)
    val v = value.eval(input)
    buf += Row(
      s == null,
      if (s == null) 0L
      else if (segIsLong) s.asInstanceOf[Long]
      else s.asInstanceOf[Int].toLong,
      o == null,
      if (o == null) 0 else o.asInstanceOf[Int],
      if (v == null) null
      else v.asInstanceOf[UTF8String].getBytes.clone())
    buf
  }

  override def merge(a: ArrayBuffer[Row],
      b: ArrayBuffer[Row]): ArrayBuffer[Row] = { a ++= b; a }

  override def eval(buf: ArrayBuffer[Row]): Any =
    UTF8String.fromString(SigListAgg.fpOf(buf))

  // Partial→final buffer wire form, written into one exactly-sized
  // array: per row a null-flags byte (1 = NULL seg, 2 = NULL ord), seg,
  // ord, value length (-1 = NULL) and the value bytes.
  override def serialize(buf: ArrayBuffer[Row]): Array[Byte] = {
    var size = 4
    var i = 0
    while (i < buf.length) {
      val v = buf(i).value
      size += 17 + (if (v == null) 0 else v.length)
      i += 1
    }
    val out = ByteBuffer.allocate(size)
    out.putInt(buf.length)
    i = 0
    while (i < buf.length) {
      val r = buf(i)
      out.put(((if (r.segNull) 1 else 0) | (if (r.ordNull) 2 else 0)).toByte)
      out.putLong(r.seg).putInt(r.ord)
      if (r.value == null) out.putInt(-1)
      else out.putInt(r.value.length).put(r.value)
      i += 1
    }
    out.array
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Row] = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt()
    val buf = new ArrayBuffer[Row](n)
    var i = 0
    while (i < n) {
      val flags = in.get()
      val s = in.getLong(); val o = in.getInt()
      val len = in.getInt()
      val v = if (len < 0) null else {
        val b = new Array[Byte](len); in.get(b); b
      }
      buf += Row((flags & 1) != 0, s, (flags & 2) != 0, o, v)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): SigListAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): SigListAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SigListAgg =
    copy(seg = newChildren(0), ord = newChildren(1),
      value = newChildren(2))
}

object SigListAgg {

  /** One buffered (seg, ord, value) observation; value kept as UTF-8
    * bytes so segment sigs sort/render in UTF8String binary order. */
  case class Row(segNull: Boolean, seg: Long, ordNull: Boolean,
      ord: Int, value: Array[Byte])

  // NULL segment first (SQL sorts the NULL grouping key first), then
  // seg; within a segment OrderedSigAgg's (ord, value) order
  private val rowOrdering: Ordering[Row] = new Ordering[Row] {
    override def compare(x: Row, y: Row): Int = {
      var c = java.lang.Boolean.compare(y.segNull, x.segNull)
      if (c == 0 && !x.segNull) c = java.lang.Long.compare(x.seg, y.seg)
      if (c != 0) c
      else OrderedSigAgg.compareEntry(x.ordNull, x.ord, x.value,
        y.ordNull, y.ord, y.value)
    }
  }

  /** Sort once, digest each segment's run with
    * [[OrderedSigAgg.sigOfSorted]] (the bit-compatible per-trace md5),
    * and render the seg-ordered digests as Spark's `to_json` over
    * `array<string>` would: an md5 hex string is never NULL and needs no
    * escaping, so each renders as `"<hex>"`. Linear after the sort. */
  def fpOf(buf: ArrayBuffer[Row]): String = {
    val rows = buf.sorted(rowOrdering)
    val md = MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder()
    sb.append('[')
    var i = 0
    val n = rows.length
    while (i < n) {
      val start = i
      val segNull = rows(i).segNull
      val segKey = rows(i).seg
      while (i < n && rows(i).segNull == segNull &&
          (segNull || rows(i).seg == segKey)) i += 1
      if (start > 0) sb.append(',')
      sb.append('"')
        .append(OrderedSigAgg.sigOfSorted(i - start,
          k => rows(start + k).value, md))
        .append('"')
    }
    sb.append(']').toString
  }

  /** Column-level entry: the composed
    * `to_json(orderedCollect(seg, md5(to_json(orderedCollect(ord, v)))))`
    * two-stage fingerprint as one native aggregation. */
  def fp(seg: Column, ord: Column, value: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(SigListAgg(
      ColumnBridge.expression(seg), ColumnBridge.expression(ord),
      ColumnBridge.expression(value))
      .toAggregateExpression())
  }

  val identifier: org.apache.spark.sql.catalyst.FunctionIdentifier =
    org.apache.spark.sql.catalyst.FunctionIdentifier("graft_sig_list")

  val info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo =
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[SigListAgg].getCanonicalName, "graft_sig_list")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 3,
      "graft_sig_list takes (seg bigint/int, ord int, value string)")
    SigListAgg(children(0), children(1), children(2))
  }
}
