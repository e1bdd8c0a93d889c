package graft.plans

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-implementation behavioral fingerprint as ONE aggregation — the
  * fused form of behavioral clustering's first two stages (reference
  * `benchmark_behavioral_clustering.py:49-96`: per-(test, run) trace
  * signature, then per-implementation fingerprint over the signatures).
  *
  * The composed DataFrame form runs two groupBy's, each an
  * ObjectHashAggregate pair with an `array_sort(collect_list(...))` +
  * interpreted `to_json` per group. This aggregate collapses them into a
  * single operator with the OrderedStringAggregator discipline: the
  * buffer is an append-only row list, sorted ONCE at eval (UTF-8 binary
  * string order, null-first — the array_sort(struct) order the composed
  * chain uses), then digested segment-by-segment — per (test, run) an
  * MD5 over the step-ORDERED OUTPUTS (step ids order the trace but do
  * not identify it: the reference's signature is the output list, so
  * renumbered steps with identical outputs are the same behavior), then
  * one MD5 over the (test, run)-ORDERED segment-digest stream — the
  * segment NAMES order it but are not digested, mirroring the
  * reference's `array_agg(signature ORDER BY test_id)` (values only).
  * Outputs are length-prefixed with a null flag, so the encoding is
  * injective over ordered output lists; 128-bit digests keep accidental
  * cluster collisions negligible.
  *
  * The hex fingerprint differs from the composed `md5(to_json(...))`
  * chain's bit pattern (different but equivalent injective encodings);
  * cluster MEMBERSHIP is identical — spec-asserted against the composed
  * form. Use the composed form when the fingerprint must be
  * reproducible in SQL-only engines (q09's DuckDB-mirrored analog);
  * use this one on latency paths.
  */
case class TraceFingerprintAgg(
    test: Expression, run: Expression, step: Expression,
    output: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[TraceFingerprintAgg.Row]] {

  import TraceFingerprintAgg.Row

  override def children: Seq[Expression] = Seq(test, run, step, output)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_trace_fingerprint"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types.IntegerType
    val ok = test.dataType == StringType && run.dataType == StringType &&
      step.dataType == IntegerType && output.dataType == StringType
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_trace_fingerprint needs (string test, string run, " +
          s"int step, string output), got (${test.dataType.simpleString}, " +
          s"${run.dataType.simpleString}, ${step.dataType.simpleString}, " +
          s"${output.dataType.simpleString})")
  }

  override def createAggregationBuffer(): ArrayBuffer[Row] =
    ArrayBuffer.empty

  override def update(buf: ArrayBuffer[Row],
      input: InternalRow): ArrayBuffer[Row] = {
    val t = test.eval(input)
    val r = run.eval(input)
    val s = step.eval(input)
    val o = output.eval(input)
    buf += Row(
      if (t == null) null else t.asInstanceOf[UTF8String].toString,
      if (r == null) null else r.asInstanceOf[UTF8String].toString,
      if (s == null) Int.MinValue else s.asInstanceOf[Int],
      s == null,
      if (o == null) null else o.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(a: ArrayBuffer[Row],
      b: ArrayBuffer[Row]): ArrayBuffer[Row] = { a ++= b; a }

  override def eval(buf: ArrayBuffer[Row]): Any =
    UTF8String.fromString(TraceFingerprintAgg.fingerprintOf(buf))

  override def serialize(buf: ArrayBuffer[Row]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    def str(v: String): Unit =
      if (v == null) out.writeInt(-1)
      else {
        val b = v.getBytes(StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
      }
    buf.foreach { r =>
      str(r.test); str(r.run)
      out.writeBoolean(r.stepNull); out.writeInt(r.step); str(r.output)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Row] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    def str(): String = {
      val n = in.readInt()
      if (n < 0) null
      else {
        val b = new Array[Byte](n); in.readFully(b)
        new String(b, StandardCharsets.UTF_8)
      }
    }
    val n = in.readInt()
    val buf = new ArrayBuffer[Row](n)
    var i = 0
    while (i < n) {
      val t = str(); val r = str()
      val stepNull = in.readBoolean(); val step = in.readInt()
      buf += Row(t, r, step, stepNull, str())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): TraceFingerprintAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): TraceFingerprintAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TraceFingerprintAgg =
    copy(test = newChildren(0), run = newChildren(1),
      step = newChildren(2), output = newChildren(3))
}

object TraceFingerprintAgg {

  /** One buffered observation row (step carries a null flag so
    * Int.MinValue data is not conflated with NULL). */
  case class Row(test: String, run: String, step: Int,
      stepNull: Boolean, output: String)

  private val rowOrdering: Ordering[Row] = new Ordering[Row] {
    // UTF-8 BINARY order, like Spark's struct sort inside array_sort —
    // Java String.compareTo (UTF-16 code units) disagrees for
    // supplementary-plane vs U+E000-FFFF, which would let two impls
    // with different traces digest to cross-form-inconsistent orders
    // (found by the NativeAggCheckSpec generator)
    private def cmpStr(a: String, b: String): Int =
      if (a == null && b == null) 0
      else if (a == null) -1
      else if (b == null) 1
      else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    override def compare(x: Row, y: Row): Int = {
      var c = cmpStr(x.test, y.test); if (c != 0) return c
      c = cmpStr(x.run, y.run); if (c != 0) return c
      // NULL step first, like Spark's struct sort
      c = java.lang.Boolean.compare(y.stepNull, x.stepNull)
      if (c != 0) return c
      c = Integer.compare(x.step, y.step); if (c != 0) return c
      cmpStr(x.output, y.output)
    }
  }

  /** Sort once, digest per (test, run) segment, fold segment digests
    * into the final 128-bit fingerprint. */
  def fingerprintOf(buf: ArrayBuffer[Row]): String = {
    val rows = buf.sorted(rowOrdering)
    val outer = MessageDigest.getInstance("MD5")
    var i = 0
    val n = rows.size
    while (i < n) {
      val segTest = rows(i).test
      val segRun = rows(i).run
      val inner = MessageDigest.getInstance("MD5")
      while (i < n && rows(i).test == segTest && rows(i).run == segRun) {
        // digest the step-ORDERED outputs only: step ids ORDER the
        // trace but do not identify it (reference
        // benchmark_behavioral_clustering.py signature = the output
        // list ordered by step) — two traces with identical ordered
        // outputs at different step numberings are the same behavior,
        // exactly as the composed md5(to_json(orderedCollect)) chain
        // computes it (divergence found by NativeAggCheckSpec)
        updateStr(inner, rows(i).output)
        i += 1
      }
      // segment digests enter the fingerprint in (test, run) order but
      // the NAMES do not — the reference's stage 2 is
      // array_agg(signature ORDER BY test_id): values only
      // (benchmark_behavioral_clustering.py:72-77), so an impl whose
      // identical trace lives under a different test id clusters WITH
      // it, exactly as the composed chain computes (generator-found)
      outer.update(inner.digest())
    }
    Hex.lower(outer.digest())
  }

  private def intBytes(v: Int): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  private def updateStr(md: MessageDigest, v: String): Unit =
    if (v == null) md.update(0.toByte)
    else {
      val b = v.getBytes(StandardCharsets.UTF_8)
      md.update(1.toByte)
      md.update(intBytes(b.length))
      md.update(b)
    }

  /** Column-level entry: the fused per-implementation fingerprint. */
  def fingerprint(test: Column, run: Column, step: Column,
      output: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(TraceFingerprintAgg(
      ColumnBridge.expression(test), ColumnBridge.expression(run),
      ColumnBridge.expression(step), ColumnBridge.expression(output))
      .toAggregateExpression())
  }

  /** SQL surface (GraftExtensions): the analyzer wraps the returned
    * AggregateFunction in an AggregateExpression when used in a
    * GROUP BY context. */
  val identifier: org.apache.spark.sql.catalyst.FunctionIdentifier =
    org.apache.spark.sql.catalyst.FunctionIdentifier(
      "graft_trace_fingerprint")

  val info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo =
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[TraceFingerprintAgg].getCanonicalName,
      "graft_trace_fingerprint")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 4, "graft_trace_fingerprint takes " +
      "(test string, run string, step int, output string)")
    TraceFingerprintAgg(children(0), children(1), children(2), children(3))
  }
}
