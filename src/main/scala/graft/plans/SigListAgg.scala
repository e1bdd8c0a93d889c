package graft.plans

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The engine's one ordered-signature aggregate: per group, the
  * seg-ordered `array<string>` of per-segment trace signatures, each
  * BIT-COMPATIBLE with the built-in chain
  *
  * {{{
  *   md5(to_json(list(v ORDER BY ord, v)))      -- one per segment
  * }}}
  *
  * i.e. with the composed two-stage chain it fuses (reference
  * `benchmark_behavioral_clustering.py:49-96`: per-trace signature,
  * then `array_agg(signature ORDER BY test_id)` per implementation):
  *
  * {{{
  *   s1 = groupBy(g, seg).agg(
  *          to_json(orderedCollect(ord, v)).as("sig"))   // trace
  *   s2 = s1.groupBy(g).agg(
  *          orderedCollect(seg, md5(sig)).as("sigs"))    // fingerprint
  * }}}
  *
  * computed as ONE aggregation keyed by `g` alone. Callers render the
  * array with the built-ins: q09 `to_json(sigs)`, clustering
  * `md5(to_json(sigs))`, a single trace signature is the one-segment
  * case (constant `seg`, element 0). Every result is therefore
  * reproducible in a SQL-only engine (q09's DuckDB oracle spells it
  * out).
  *
  * Why fused: the composed form's first groupBy materializes one
  * collect_list buffer PER (g, seg) group — on q09's lineitem analog
  * ~0.97 groups per input row — so the ObjectHashAggregate machinery
  * (per-group ArrayBuffer, a partial→final serialize round, array_sort
  * + interpreted to_json) runs ~N times for N rows. This aggregate has
  * one buffer per `g` and shuffles the same raw (seg, ord, v) bytes.
  *
  * Buffer: the projected (seg, ord, v) row per input, copied as an
  * `UnsafeRow`; partial→final it travels as the length-prefixed row
  * bytes and is read back without copying. Eval sorts the rows once with
  * Spark's own ordering for their types and digests each segment's run.
  * Parity rules, each spec-asserted (NativeAggCheckSpec properties,
  * PlansSpec adversarial cases):
  *
  *  - sort order = Spark's struct ordering on (seg, ord, v), ascending,
  *    NULL first in every field (SQL grouping: a NULL seg is one
  *    segment); strings in UTF8String BINARY order (unsigned UTF-8
  *    bytes), NOT java.lang.String order — they differ on
  *    supplementary-plane code points; struct segs field by field.
  *    Segment keys are distinct per group, so the composed chain's
  *    (seg, md5sig) sort never reaches its md5sig tie-break;
  *  - JSON rendering = Spark's JacksonGenerator: `["a","b"]`, NULL
  *    elements as `null`, escaping `"` `\` and control chars < 0x20
  *    (named escapes for \b \t \n \f \r, uppercase `\u00XX` otherwise),
  *    everything else raw;
  *  - md5 hex lowercase over the JSON string's UTF-8 bytes.
  */
case class SigListAgg(
    seg: Expression, ord: Expression, value: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[UnsafeRow]] {

  override def children: Seq[Expression] = Seq(seg, ord, value)
  override def dataType: DataType = ArrayType(StringType, false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_sig_list"

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(seg.dataType) &&
        RowOrdering.isOrderable(ord.dataType) && value.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        "graft_sig_list needs (orderable seg, orderable ord, string " +
          s"value), got (${seg.dataType.simpleString}, " +
          s"${ord.dataType.simpleString}, ${value.dataType.simpleString})")

  @transient private lazy val project = UnsafeProjection.create(children)
  @transient private lazy val rowOrdering =
    RowOrdering.createNaturalAscendingOrdering(children.map(_.dataType))
  // field 0 only: equal under it = same segment
  @transient private lazy val segOrdering =
    RowOrdering.createNaturalAscendingOrdering(Seq(seg.dataType))

  override def createAggregationBuffer(): ArrayBuffer[UnsafeRow] =
    ArrayBuffer.empty

  override def update(buf: ArrayBuffer[UnsafeRow],
      input: InternalRow): ArrayBuffer[UnsafeRow] = {
    buf += project(input).copy()
    buf
  }

  override def merge(a: ArrayBuffer[UnsafeRow],
      b: ArrayBuffer[UnsafeRow]): ArrayBuffer[UnsafeRow] = { a ++= b; a }

  /** Sort once, then one signature per run of equal segs. Linear after
    * the sort. */
  override def eval(buf: ArrayBuffer[UnsafeRow]): Any = {
    val rows = buf.toArray
    java.util.Arrays.sort(rows, rowOrdering)
    val md = MessageDigest.getInstance("MD5")
    val sigs = ArrayBuffer.empty[Any]
    var i = 0
    while (i < rows.length) {
      val start = i
      i += 1
      while (i < rows.length && segOrdering.compare(rows(start), rows(i)) == 0)
        i += 1
      sigs += UTF8String.fromString(SigListAgg.sigOfSorted(rows, start, i, md))
    }
    new GenericArrayData(sigs.toArray)
  }

  // Partial→final wire form: the row count, then per row its size and
  // its UnsafeRow bytes.
  override def serialize(buf: ArrayBuffer[UnsafeRow]): Array[Byte] = {
    var size = 4
    buf.foreach(r => size += 4 + r.getSizeInBytes)
    val out = ByteBuffer.allocate(size)
    out.putInt(buf.length)
    buf.foreach { r => out.putInt(r.getSizeInBytes); r.writeTo(out) }
    out.array
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[UnsafeRow] = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt()
    val buf = new ArrayBuffer[UnsafeRow](n)
    var i = 0
    while (i < n) {
      val len = in.getInt()
      val r = new UnsafeRow(3)
      r.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), len)
      in.position(in.position() + len)
      buf += r
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

  /** Render the values (field 2) of `rows(from until until)`, already in
    * (ord, value) order, as the Jackson-compatible JSON array and md5 it
    * with `md` (an MD5 digest; `digest()` leaves it reset for the next
    * segment). */
  private def sigOfSorted(rows: Array[UnsafeRow], from: Int, until: Int,
      md: MessageDigest): String = {
    val sb = new java.lang.StringBuilder((until - from) * 8 + 2)
    sb.append('[')
    var i = from
    while (i < until) {
      if (i > from) sb.append(',')
      if (rows(i).isNullAt(2)) sb.append("null")
      else appendJsonString(sb, rows(i).getUTF8String(2).toString)
      i += 1
    }
    sb.append(']')
    Hex.lower(md.digest(sb.toString.getBytes(StandardCharsets.UTF_8)))
  }

  /** Jackson default string escaping: `"` and `\` backslashed, control
    * chars < 0x20 as \b \t \n \f \r or uppercase \u00XX, the rest raw. */
  private def appendJsonString(sb: java.lang.StringBuilder,
      s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      ch match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case c if c < 0x20 =>
          sb.append("\\u00")
          sb.append("0123456789ABCDEF".charAt((c >> 4) & 0xf))
          sb.append("0123456789ABCDEF".charAt(c & 0xf))
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Column-level entry: the seg-ordered per-segment signatures
    * `orderedCollect(seg, md5(to_json(orderedCollect(ord, value))))` as
    * one native aggregation. */
  def sigs(seg: Column, ord: Column, value: Column): Column = {
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
      "graft_sig_list takes (seg, ord, value string)")
    SigListAgg(children(0), children(1), children(2))
  }
}
