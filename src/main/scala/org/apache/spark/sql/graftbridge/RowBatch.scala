package org.apache.spark.sql.graftbridge

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** An immutable batch of table rows: one broadcast of their UnsafeRows.
  * Making one runs no Spark job, and tasks read the rows from their
  * executor's broadcast cache instead of carrying them. [[destroy]]
  * removes the blocks once no view reads the batch.
  */
final case class RowBatch(rows: Broadcast[Array[UnsafeRow]], numRows: Long, sizeInBytes: Long) {
  def id: Long = rows.id
  def destroy(): Unit = rows.destroy()
}

object RowBatch {

  /** Broadcast `rows`, Catalyst values of `schema`, as one batch. Every
    * column is nullable, as a BigQuery column is, even where the schema
    * comes from a plan that proved it non-null.
    */
  def apply(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): RowBatch = {
    val project = UnsafeProjection.create(schema.asNullable)
    val unsafe = rows.map(r => project(r).copy()).toArray
    RowBatch(spark.sparkContext.broadcast(unsafe), unsafe.length, unsafe.map(_.getSizeInBytes.toLong).sum)
  }

  /** A frame over `batches` in order: one partition per
    * `spark.sql.files.maxPartitionBytes` of their size, never splitting a
    * batch and at least one, with their exact row count and size as
    * statistics, every column nullable. A single partition plans as
    * `SinglePartition`, so aggregates, windows and sorts over it need no
    * exchange.
    */
  def frame(spark: SparkSession, schema: StructType, batches: Seq[RowBatch]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val split = session.sessionState.conf.filesMaxPartitionBytes
    val parts = Vector.newBuilder[Vector[RowBatch]]
    var part = Vector.empty[RowBatch]
    var partBytes = 0L
    batches.foreach { b =>
      if (part.nonEmpty && partBytes + b.sizeInBytes > split) {
        parts += part
        part = Vector.empty
        partBytes = 0L
      }
      part :+= b
      partBytes += b.sizeInBytes
    }
    val packed = (parts += part).result()
    val partitioning = if (packed.size == 1) SinglePartition else UnknownPartitioning(packed.size)
    val stats = Statistics(batches.map(_.sizeInBytes).sum, Some(BigInt(batches.map(_.numRows).sum)))
    val relation = LogicalRDD(DataTypeUtils.toAttributes(schema.asNullable),
      new BatchRDD(session.sparkContext, packed), partitioning)(session, Some(stats))
    classic.Dataset.ofRows(session, relation)
  }
}

/** The rows of `parts`, one partition per inner sequence of batches. */
final class BatchRDD private[graftbridge] (sc: SparkContext, @transient parts: Vector[Vector[RowBatch]])
    extends RDD[InternalRow](sc, Nil) {

  def batches: Seq[RowBatch] = parts.flatten

  override protected def getPartitions: Array[Partition] =
    parts.zipWithIndex.map { case (bs, i) => BatchPartition(i, bs.map(_.rows)): Partition }.toArray

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    split.asInstanceOf[BatchPartition].rows.iterator.flatMap(_.value.iterator)
}

private final case class BatchPartition(index: Int, rows: Vector[Broadcast[Array[UnsafeRow]]]) extends Partition
