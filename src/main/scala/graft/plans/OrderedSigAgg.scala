package graft.plans

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-group trace signature: the exact value of
  * `md5(to_json(Fns.orderedCollect(ord, v)))` computed in ONE native
  * aggregation — no collect_list buffer, no array_sort pass, no
  * interpreted `to_json` per group (reference per-(impl,test,run)
  * signature stage, `benchmark_behavioral_clustering.py:53-62`).
  *
  * Unlike [[TraceFingerprintAgg]] (an equivalent-but-different injective
  * encoding), this aggregate is BIT-COMPATIBLE with the composed
  * expression chain — and therefore with a DuckDB mirror that computes
  * `md5(to_json(list(v ORDER BY ord, v)))` — so it can sit on
  * oracle-checked paths where the signature's byte value matters: the
  * consensus tie-break `ORDER BY votes DESC, sig` compares these hex
  * strings, and both engines must agree on the order. Parity details the
  * implementation must (and does) honor, each spec-asserted:
  *
  *  - sort order = Spark's struct ordering on (o, v): NULL field first,
  *    then the value; string comparison is UTF8String BINARY order
  *    (unsigned UTF-8 bytes), NOT java.lang.String order — they differ
  *    on supplementary-plane code points;
  *  - JSON rendering = Spark's JacksonGenerator: `["a","b"]`, NULL
  *    elements as `null`, escaping `"` `\` and control chars < 0x20
  *    (named escapes for \b \t \n \f \r, uppercase `\u00XX` otherwise),
  *    everything else raw;
  *  - md5 hex lowercase over the JSON string's UTF-8 bytes.
  */
case class OrderedSigAgg(
    ord: Expression, value: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[OrderedSigAgg.Row]] {

  import OrderedSigAgg.Row

  override def children: Seq[Expression] = Seq(ord, value)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_ordered_sig"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = ord.dataType == IntegerType && value.dataType == StringType
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_ordered_sig needs (int ord, string value), got " +
          s"(${ord.dataType.simpleString}, ${value.dataType.simpleString})")
  }

  override def createAggregationBuffer(): ArrayBuffer[Row] =
    ArrayBuffer.empty

  override def update(buf: ArrayBuffer[Row],
      input: InternalRow): ArrayBuffer[Row] = {
    val o = ord.eval(input)
    val v = value.eval(input)
    buf += Row(
      o == null,
      if (o == null) 0 else o.asInstanceOf[Int],
      if (v == null) null
      else v.asInstanceOf[UTF8String].getBytes.clone())
    buf
  }

  override def merge(a: ArrayBuffer[Row],
      b: ArrayBuffer[Row]): ArrayBuffer[Row] = { a ++= b; a }

  override def eval(buf: ArrayBuffer[Row]): Any =
    UTF8String.fromString(OrderedSigAgg.sigOf(buf))

  override def serialize(buf: ArrayBuffer[Row]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { r =>
      out.writeBoolean(r.ordNull); out.writeInt(r.ord)
      if (r.value == null) out.writeInt(-1)
      else { out.writeInt(r.value.length); out.write(r.value) }
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Row] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new ArrayBuffer[Row](n)
    var i = 0
    while (i < n) {
      val ordNull = in.readBoolean(); val o = in.readInt()
      val len = in.readInt()
      val v = if (len < 0) null else {
        val b = new Array[Byte](len); in.readFully(b); b
      }
      buf += Row(ordNull, o, v)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): OrderedSigAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): OrderedSigAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): OrderedSigAgg =
    copy(ord = newChildren(0), value = newChildren(1))
}

object OrderedSigAgg {

  /** One buffered (ord, value) pair; value kept as UTF-8 bytes so the
    * sort comparator is UTF8String's binary order for free. */
  case class Row(ordNull: Boolean, ord: Int, value: Array[Byte])

  /** Spark's interpreted struct ordering on (ord, value): NULL ord
    * first, then ord; NULL value first, then UTF8String binary order.
    * Also [[SigListAgg]]'s order within a segment. */
  private[plans] def compareEntry(
      xOrdNull: Boolean, xOrd: Int, xValue: Array[Byte],
      yOrdNull: Boolean, yOrd: Int, yValue: Array[Byte]): Int = {
    var c = java.lang.Boolean.compare(yOrdNull, xOrdNull)
    if (c != 0) return c
    if (!xOrdNull) { c = Integer.compare(xOrd, yOrd); if (c != 0) return c }
    if (xValue == null && yValue == null) 0
    else if (xValue == null) -1
    else if (yValue == null) 1
    else java.util.Arrays.compareUnsigned(xValue, yValue)
  }

  private val rowOrdering: Ordering[Row] = (x: Row, y: Row) =>
    compareEntry(x.ordNull, x.ord, x.value, y.ordNull, y.ord, y.value)

  /** Sort once, then [[sigOfSorted]]. */
  def sigOf(buf: ArrayBuffer[Row]): String = {
    val rows = buf.sorted(rowOrdering)
    sigOfSorted(rows.length, rows(_).value, MessageDigest.getInstance("MD5"))
  }

  /** Render the `n` values `value(0 until n)`, already in (ord, value)
    * order, as the Jackson-compatible JSON array and md5 it with `md`
    * (an MD5 digest; `digest()` leaves it reset for the next call, so a
    * caller digesting many segments passes one instance). */
  private[plans] def sigOfSorted(n: Int, value: Int => Array[Byte],
      md: MessageDigest): String = {
    val sb = new java.lang.StringBuilder(n * 8 + 2)
    sb.append('[')
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      val v = value(i)
      if (v == null) sb.append("null")
      else appendJsonString(sb, new String(v, StandardCharsets.UTF_8))
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

  /** Column-level entry: `md5(to_json(list(v ORDER BY ord, v)))` as one
    * native aggregation. */
  def sig(ord: Column, value: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(OrderedSigAgg(
      ColumnBridge.expression(ord), ColumnBridge.expression(value))
      .toAggregateExpression())
  }

  val identifier: org.apache.spark.sql.catalyst.FunctionIdentifier =
    org.apache.spark.sql.catalyst.FunctionIdentifier("graft_ordered_sig")

  val info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo =
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[OrderedSigAgg].getCanonicalName, "graft_ordered_sig")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 2,
      "graft_ordered_sig takes (ord int, value string)")
    OrderedSigAgg(children(0), children(1))
  }
}
