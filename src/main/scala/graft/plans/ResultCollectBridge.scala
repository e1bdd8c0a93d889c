// This file is compiled into a subpackage of org.apache.spark.sql ON
// PURPOSE, for three reasons: `SparkPlan.executeCollectIterator` (what a
// `BroadcastExchangeExec` calls on its child) and `CompressionCodec`'s
// factory are private[spark]; and Spark names a job after the first
// stack frame outside its own packages, so a collect whose frames sat in
// `graft.plans` would name every result job after this file instead of
// the caller's `collect at ...` line. Only the job plumbing lives here;
// the node and its placement rule are [[graft.plans.ResultCollectExec]].
package org.apache.spark.sql.graftbridge

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.io.CompressionCodec
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** The runtime of [[graft.plans.ResultCollectExec]]: a pass-through node
  * whose collect is one `runJob` with [[EncodePartition]] as the job
  * function. A plain named class is not a closure, so Spark's closure
  * cleaner returns at once. */
abstract class ResultCollectBase extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  // transparent, as WholeStageCodegenExec is: a wrapped plan is the same
  // result (and the same reusable exchange) as the unwrapped one
  override protected def doCanonicalize(): SparkPlan = child.canonicalized

  /** Each partition's row count and encoded rows: one job. */
  private def encodedPartitions(): Array[(Long, Array[Byte])] = {
    val rdd = execute()
    sparkContext.runJob(rdd, new EncodePartition,
      0 until rdd.getNumPartitions)
  }

  override private[spark] def executeCollectIterator()
      : (Long, Iterator[InternalRow]) = {
    val parts = encodedPartitions()
    val width = output.length
    (parts.iterator.map(_._1).sum,
      parts.iterator.flatMap(p => EncodePartition.decode(p._2, width)))
  }

  override def executeCollect(): Array[InternalRow] =
    executeCollectIterator()._2.toArray
}

/** The result job's function: a partition's row count and its rows as one
  * byte array, each row's size then its `UnsafeRow` bytes, ended by -1,
  * all through the session's `CompressionCodec` (the encoding of Spark's
  * private `SparkPlan.getByteArrayRdd`). */
final class EncodePartition
    extends ((TaskContext, Iterator[InternalRow]) => (Long, Array[Byte]))
    with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow])
      : (Long, Array[Byte]) = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(CompressionCodec
      .createCodec(SparkEnv.get.conf).compressedOutputStream(bytes))
    val buffer = new Array[Byte](4 << 10)
    var count = 0L
    while (rows.hasNext) {
      val row = rows.next().asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buffer)
      count += 1
    }
    out.writeInt(-1)
    out.close()
    (count, bytes.toByteArray)
  }
}

object EncodePartition {
  /** The rows of one encoded partition, `width` fields each, in order. */
  def decode(bytes: Array[Byte], width: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val in = new DataInputStream(CompressionCodec
        .createCodec(SparkEnv.get.conf)
        .compressedInputStream(new ByteArrayInputStream(bytes)))
      private var nextSize = readSize()
      private def readSize(): Int = {
        val n = in.readInt()
        if (n < 0) in.close()
        n
      }
      def hasNext: Boolean = nextSize >= 0
      def next(): InternalRow = {
        val bs = new Array[Byte](nextSize)
        in.readFully(bs)
        val row = new UnsafeRow(width)
        row.pointTo(bs, bs.length)
        nextSize = readSize()
        row
      }
    }
}
