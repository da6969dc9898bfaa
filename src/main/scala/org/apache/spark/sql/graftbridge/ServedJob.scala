package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}

import graft.Materialize

/** The served engine's one way to run a frame: one SQL execution, as
  * listeners see it, whose executed plan is read by one Spark job.
  *
  * Every job's task function is an instance of a named top-level class,
  * passed to the `SparkContext.runJob` overload that wraps it in nothing.
  * Spark's closure cleaner returns at once for such a class; for a lambda
  * it reads the class file that declares the lambda and parses it, on
  * every job (`RDD.class` and `SparkContext.class`, about 390 KB, for each
  * `Dataset.toLocalIterator` partition). Rows come back as copied
  * `InternalRow`s and are converted on the driver, with no Row encoder
  * and no byte-array codec.
  */
object ServedJob {

  /** The rows of `df` as `Row`s, in partition order. */
  def collect(df: DataFrame): Seq[Row] = run(df, "collect") { (ds, rows) =>
    val toScala = CatalystTypeConverters.createToScalaConverter(ds.schema)
    job(rows, new CollectRows).iterator.flatten.map(toScala(_).asInstanceOf[Row]).toVector
  }

  /** The number of rows of `df`. */
  def count(df: DataFrame): Long = run(df, "count")((_, rows) => job(rows, new CountRows).sum)

  /** Copy `df` into executor storage with one job that also counts its
    * rows. Returns a frame over the copy, whose statistics carry that
    * exact row count, and the count. The copy is a [[Materialize]]
    * checkpoint, released with the caller's scope: the job stores every
    * partition, so the checkpoint that `runJob` takes afterwards computes
    * nothing and only cuts the lineage.
    */
  def snapshot(df: DataFrame): (DataFrame, Long) = run(df, "materialize") { (ds, rows) =>
    val copy = Materialize.checkpoint(rows.mapPartitionsInternal(_.map(_.copy())))
    val n = job(copy, new CountRows).sum
    val relation = LogicalRDD.fromDataset(copy, ds, ds.isStreaming)
    val stats = relation.computeStats().copy(rowCount = Some(BigInt(n)))
    val exact = relation.copy()(ds.sparkSession, Some(stats), Some(relation.constraints))
    (classic.Dataset.ofRows(ds.sparkSession, exact), n)
  }

  /** `body` over `df`'s executed plan, inside one SQL execution named
    * `name`. Errors are reported as `Dataset` actions report them.
    */
  private def run[A](df: DataFrame, name: String)(body: (classic.Dataset[Row], RDD[InternalRow]) => A): A = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      QueryExecution.withInternalError(s"""The "$name" action failed.""") {
        body(ds, qe.executedPlan.execute())
      }
    }
  }

  /** One job of `func` over every partition of `rdd`, results in partition order. */
  private def job[U: ClassTag](rdd: RDD[InternalRow], func: (TaskContext, Iterator[InternalRow]) => U): Array[U] = {
    val out = new Array[U](rdd.partitions.length)
    rdd.sparkContext.runJob(rdd, func, out.indices, (i: Int, u: U) => out(i) = u)
    out
  }
}

/** A partition's rows, copied out of the buffers the plan reuses. */
private[graftbridge] final class CollectRows
    extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
  override def apply(context: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
    rows.map(_.copy()).toArray
}

/** A partition's row count. */
private[graftbridge] final class CountRows
    extends ((TaskContext, Iterator[InternalRow]) => Long) with Serializable {
  override def apply(context: TaskContext, rows: Iterator[InternalRow]): Long = {
    var n = 0L
    while (rows.hasNext) { rows.next(); n += 1 }
    n
  }
}
