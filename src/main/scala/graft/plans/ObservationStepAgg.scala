package graft.plans

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The arena-ingest regroup's five aggregate expressions fused into ONE
  * aggregation (reference `arena.py:72-101`: per sequence-sheet step,
  * ordered input/output cell concatenation + tagged-attribute
  * extraction). Returns a struct
  * `(inputs, output, operation, execution_time_ms, specified_oracle)`.
  *
  * The composed form runs TWO `array_sort(collect_list(struct))` +
  * `transform` + `array_join` chains (higher-order functions — outside
  * whole-stage codegen, one materialized struct array per group per
  * column) plus three scalar MAXes, five aggregation buffers total.
  * This operator keeps ONE JVM buffer per group: two append-only
  * (x, value) lists sorted once at eval (the
  * [[OrderedStringAggregator]] / [[SigListAgg]] discipline)
  * and three running scalars. Semantics match the composed chain
  * bit-for-bit (spec-asserted): cells sort by (X, VALUE), NULL VALUEs
  * are skipped, an empty concat yields NULL (the `nullif(.., '')`
  * behavior), MAXes ignore NULLs.
  */
case class ObservationStepAgg(
    x: Expression, typ: Expression, value: Expression, et: Expression,
    isOracle: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ObservationStepAgg.Buf] {

  import ObservationStepAgg.Buf

  override def children: Seq[Expression] =
    Seq(x, typ, value, et, isOracle)
  override def dataType: DataType = ObservationStepAgg.outType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_observation_step"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = x.dataType == IntegerType &&
      (typ.dataType == StringType || typ.dataType == ByteType) &&
      value.dataType == StringType && et.dataType == DoubleType &&
      isOracle.dataType == BooleanType
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_observation_step needs (int X, string|byte TYPE, " +
          "string VALUE, double EXECUTIONTIME, boolean isOracle), got " +
          children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
  }

  /** TYPE arrives either as the raw export string or as the ingest
    * path's pre-shuffle byte code (1=input_value, 2=value, 3=op —
    * encoding the dispatch once per cell BEFORE the exchange instead
    * of per-buffer-update after it). */
  private lazy val byteTyped = typ.dataType == ByteType

  override def createAggregationBuffer(): Buf = new Buf

  override def update(b: Buf, input: InternalRow): Buf = {
    val t = typ.eval(input)
    val v = value.eval(input)
    if (t != null && v != null) {
      val xe = x.eval(input)
      val xi = if (xe == null) Int.MinValue else xe.asInstanceOf[Int]
      // clone: the incoming UTF8String points into a reused row buffer.
      // UTF8String comparison is BINARY (UTF-8 byte) order — the same
      // collation array_sort/max use, unlike java.lang.String.compareTo
      val vs = v.asInstanceOf[UTF8String].clone()
      if (byteTyped) {
        (t.asInstanceOf[Byte]: @annotation.switch) match {
          case 1 => b.ins += ((xi, vs))
          case 2 => b.outs += ((xi, vs))
          case 3 =>
            if (b.op == null || vs.compareTo(b.op) > 0) b.op = vs
          case _ => ()
        }
      } else {
        // TYPE dispatch against cached UTF8String constants: a per-row
        // .toString would allocate (and UTF-8-decode) one java String
        // per input cell on the ingest hot path
        val tu = t.asInstanceOf[UTF8String]
        if (tu.equals(ObservationStepAgg.tInput)) b.ins += ((xi, vs))
        else if (tu.equals(ObservationStepAgg.tValue)) b.outs += ((xi, vs))
        else if (tu.equals(ObservationStepAgg.tOp)) {
          if (b.op == null || vs.compareTo(b.op) > 0) b.op = vs
        }
      }
    }
    val e = et.eval(input)
    if (e != null) {
      val d = e.asInstanceOf[Double]
      if (!b.hasEt || d > b.et) { b.et = d; b.hasEt = true }
    }
    val o = isOracle.eval(input)
    if (o != null && o.asInstanceOf[Boolean]) b.oracle = true
    if (o != null) b.hasOracle = true
    b
  }

  override def merge(a: Buf, b: Buf): Buf = {
    a.ins ++= b.ins
    a.outs ++= b.outs
    if (b.op != null && (a.op == null || b.op.compareTo(a.op) > 0))
      a.op = b.op
    if (b.hasEt && (!a.hasEt || b.et > a.et)) { a.et = b.et; a.hasEt = true }
    a.oracle ||= b.oracle
    a.hasOracle ||= b.hasOracle
    a
  }

  override def eval(b: Buf): Any = {
    def joined(xs: ArrayBuffer[(Int, UTF8String)]): UTF8String = {
      if (xs.isEmpty) return null
      val sorted = xs.sorted(ObservationStepAgg.cellOrdering)
      val s = UTF8String.concatWs(ObservationStepAgg.sep,
        sorted.map(_._2).toSeq: _*)
      if (s.numBytes() == 0) null else s
    }
    InternalRow(
      joined(b.ins),
      joined(b.outs),
      b.op,
      if (b.hasEt) b.et else null,
      if (b.hasOracle) b.oracle else null)
  }

  override def serialize(b: Buf): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    def cells(xs: ArrayBuffer[(Int, UTF8String)]): Unit = {
      out.writeInt(xs.size)
      xs.foreach { case (i, v) =>
        out.writeInt(i)
        val vb = v.getBytes
        out.writeInt(vb.length); out.write(vb)
      }
    }
    cells(b.ins); cells(b.outs)
    if (b.op == null) out.writeInt(-1)
    else {
      val ob = b.op.getBytes
      out.writeInt(ob.length); out.write(ob)
    }
    out.writeBoolean(b.hasEt); out.writeDouble(b.et)
    out.writeBoolean(b.hasOracle); out.writeBoolean(b.oracle)
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val b = new Buf
    def cells(xs: ArrayBuffer[(Int, UTF8String)]): Unit = {
      val n = in.readInt()
      var i = 0
      while (i < n) {
        val xi = in.readInt()
        val len = in.readInt()
        val vb = new Array[Byte](len); in.readFully(vb)
        xs += ((xi, UTF8String.fromBytes(vb)))
        i += 1
      }
    }
    cells(b.ins); cells(b.outs)
    val opLen = in.readInt()
    if (opLen >= 0) {
      val ob = new Array[Byte](opLen); in.readFully(ob)
      b.op = UTF8String.fromBytes(ob)
    }
    b.hasEt = in.readBoolean(); b.et = in.readDouble()
    b.hasOracle = in.readBoolean(); b.oracle = in.readBoolean()
    b
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): ObservationStepAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): ObservationStepAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ObservationStepAgg =
    copy(x = newChildren(0), typ = newChildren(1), value = newChildren(2),
      et = newChildren(3), isOracle = newChildren(4))
}

object ObservationStepAgg {

  /** Mutable per-group state: input/output cells, running maxes. */
  final class Buf {
    val ins: ArrayBuffer[(Int, UTF8String)] = ArrayBuffer.empty
    val outs: ArrayBuffer[(Int, UTF8String)] = ArrayBuffer.empty
    var op: UTF8String = null
    var et: Double = 0.0
    var hasEt: Boolean = false
    var oracle: Boolean = false
    var hasOracle: Boolean = false
  }

  private[plans] val sep: UTF8String = UTF8String.fromString(",")

  private[plans] val tInput: UTF8String =
    UTF8String.fromString("input_value")
  private[plans] val tValue: UTF8String = UTF8String.fromString("value")
  private[plans] val tOp: UTF8String = UTF8String.fromString("op")

  /** (X, VALUE) ascending, VALUE in UTF-8 binary order — identical to
    * array_sort over struct(X, VALUE). */
  private[plans] val cellOrdering: Ordering[(Int, UTF8String)] =
    new Ordering[(Int, UTF8String)] {
      override def compare(a: (Int, UTF8String),
          b: (Int, UTF8String)): Int = {
        val c = Integer.compare(a._1, b._1)
        if (c != 0) c else a._2.compareTo(b._2)
      }
    }

  val outType: StructType = StructType(Seq(
    StructField("inputs", StringType, nullable = true),
    StructField("output", StringType, nullable = true),
    StructField("operation", StringType, nullable = true),
    StructField("execution_time_ms", DoubleType, nullable = true),
    StructField("specified_oracle", BooleanType, nullable = true)))

  /** Column-level entry over the raw arena cell columns. */
  def agg(x: Column, typ: Column, value: Column, et: Column,
      isOracle: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(ObservationStepAgg(
      ColumnBridge.expression(x), ColumnBridge.expression(typ),
      ColumnBridge.expression(value), ColumnBridge.expression(et),
      ColumnBridge.expression(isOracle)).toAggregateExpression())
  }
}
