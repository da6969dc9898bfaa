package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Materialize

/** The one snapshot-chain implementation every incremental sink shares
  * (mergeSink, the AnnStream PQ and IVF indexes and the other stream
  * sinks). A "store" is a directory of `snap_<batchId>` parquet
  * children; a snapshot is COMMITTED once Spark writes its _SUCCESS
  * marker. The chain is replay-idempotent by construction:
  *
  *  - each micro-batch merges against the latest snapshot with id
  *    STRICTLY BELOW its own — a replayed batch therefore sees the same
  *    input state as its first attempt and overwrites its own output,
  *    converging to an identical snapshot;
  *  - retention prunes only ids ≤ batchId − max(2, retain): the floor
  *    of 2 keeps snap_{B-1} alive through B's prune, because a replay
  *    of B needs it (deleting it would silently restart the state from
  *    one batch of data if the process died between B's foreachBatch
  *    and its checkpoint commit);
  *  - readers take the highest committed snapshot.
  *
  * Each micro-batch's merge and writes run in one [[graft.Materialize]]
  * scope, released after the snapshot write, so what a merge caches
  * lives for its batch only.
  */
object SnapshotStore {

  /** `tableDir`'s FileSystem from the session's Hadoop conf — resolves
    * HDFS/S3A/file URIs alike, unlike java.io.File which silently only
    * works on the local filesystem.
    */
  def fsOf(spark: SparkSession, tableDir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val root = new org.apache.hadoop.fs.Path(tableDir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Ids of COMMITTED `<prefix><id>` children of `root` (Spark writes
    * _SUCCESS on completion) — the chain's discovery primitive.
    */
  def committedIds(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      prefix: String): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .filter(st => fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix(prefix).toLong)

  /** The current merged state: the highest-numbered committed snapshot
    * (optionally restricted to ids strictly below `below` — what a
    * replaying batch must read to stay idempotent).
    */
  def latest(
      spark: SparkSession, tableDir: String,
      below: Option[Long] = None): Option[DataFrame] = {
    val (fs, root) = fsOf(spark, tableDir)
    val ids = committedIds(fs, root, "snap_").filter(id => below.forall(id < _))
    if (ids.isEmpty) None
    else Some(spark.read.parquet(s"$tableDir/snap_${ids.max}"))
  }

  /** Retention: prune AFTER the new snapshot commits, so a crash
    * mid-prune still leaves a complete chain. See the class doc for why
    * the floor is 2, not 1.
    */
  def prune(
      spark: SparkSession, tableDir: String,
      batchId: Long, retainSnapshots: Int): Unit = {
    val (fs, root) = fsOf(spark, tableDir)
    committedIds(fs, root, "snap_")
      .filter(_ <= batchId - math.max(2, retainSnapshots))
      .foreach { id =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"snap_$id"), true)
      }
  }

  /** The shared sink skeleton: per micro-batch,
    * `merge(prev, batch, batchId)` produces the next state, which
    * commits as `snap_<batchId>` and then prunes. All chain semantics
    * (strictly-below read, overwrite-own-id, retention floor) live HERE;
    * the sinks supply only their merge algebra, and may use the batch id
    * (e.g. an ingest-batch column in the stored rows). Trigger.AvailableNow
    * drains what's present and stops — the incremental-batch pattern for
    * scheduled backfills.
    */
  def snapshotSinkWithId(
      src: DataFrame, tableDir: String, checkpointDir: String,
      retainSnapshots: Int)(
      merge: (Option[DataFrame], DataFrame, Long) => DataFrame): StreamingQuery =
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val prev = latest(spark, tableDir, below = Some(batchId))
        val (_, scope) = Materialize.scope(merge(prev, batch, batchId)
          .write.mode("overwrite").parquet(s"$tableDir/snap_$batchId"))
        scope.release()
        prune(spark, tableDir, batchId, retainSnapshots)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
