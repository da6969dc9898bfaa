package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.{IvfOps, PqOps}
import graft.queries.PqOps.PqModel

/** Streaming ANN index maintenance: the PQ index absorbs arriving
  * vectors incrementally, without retraining codebooks or re-encoding
  * the existing corpus (reference behavior: the index serves queries
  * continuously while ingestion appends; cf. reference streaming
  * ingestion in src/session/pipeline.rs — tables refresh as new data
  * lands, downstream consumers read the latest state).
  *
  * Shape: codebooks are FROZEN at build time (PQ's standard production
  * contract — retraining would invalidate every stored code, so real
  * systems train once on a sample and re-train offline, rarely). Each
  * micro-batch PQ-encodes ONLY its own rows — a map-only pass of
  * O(batch) work regardless of index size — and merges them into the
  * latest committed snapshot by `vec_id` (the arriving row wins, so a
  * re-sent vector is an upsert). Snapshots use the same idempotent
  * `snap_<batchId>` chain as [[StreamOps.mergeSink]]: a replayed batch
  * reads the snapshot strictly below its own id and overwrites its own
  * output, converging to the identical index; readers
  * ([[searchIndex]]) take the highest complete snapshot.
  */
object AnnStream {

  /** Maintain a PQ index at `tableDir` from a stream of
    * (`vec_id` Long, `v` Array[Double]) rows. Existing snapshot rows
    * pass through each merge UNTOUCHED (their stored `code` is reused,
    * never recomputed) — the spec proves it by poisoning a stored code
    * and watching it survive subsequent batches.
    */
  def pqIndexSink(
      vectors: DataFrame, model: PqModel, tableDir: String, checkpointDir: String,
      retainSnapshots: Int = 3): StreamingQuery =
    indexSink(vectors, b => PqOps.encodeWithVectors(b, model), tableDir,
      checkpointDir, retainSnapshots)

  /** The IVF twin of [[pqIndexSink]]: arriving vectors get a map-only
    * nearest-centroid cell assignment against the frozen coarse quantizer
    * (`cents` as literal arrays — the codebook-ships-to-every-executor
    * pattern) and merge into the same snapshot chain. Stored `cid`s pass
    * through untouched; searches probe nprobe cells of the latest
    * snapshot ([[searchIvfIndex]]).
    */
  def ivfIndexSink(
      vectors: DataFrame, cents: Seq[Seq[Double]], tableDir: String,
      checkpointDir: String, retainSnapshots: Int = 3): StreamingQuery =
    indexSink(vectors, b => IvfOps.assignLiteral(b, cents).select("vec_id", "v", "cid"),
      tableDir, checkpointDir, retainSnapshots)

  /** The COMPOSED twin: arriving vectors get the map-only IVF-PQ
    * encoding — coarse cell assignment AND PQ codes against the frozen
    * [[graft.queries.IvfPqOps.IvfPqModel]] — and merge into the same
    * snapshot chain. O(batch) per micro-batch regardless of index size;
    * stored (cid, code) pairs pass through every merge untouched.
    */
  def ivfpqIndexSink(
      vectors: DataFrame, model: graft.queries.IvfPqOps.IvfPqModel, tableDir: String,
      checkpointDir: String, retainSnapshots: Int = 3): StreamingQuery =
    indexSink(vectors, b => graft.queries.IvfPqOps.encode(b, model), tableDir,
      checkpointDir, retainSnapshots)

  /** Shared incremental-index sink: `encodeBatch` runs over THIS batch
    * only — map-only against frozen model state, O(batch) regardless of
    * index size — and the result merges into the latest committed
    * snapshot by `vec_id` (latest ingest wins, so a re-sent vector is an
    * upsert; existing rows keep their stored encoding through the merge).
    *
    * TOMBSTONES: a batch row with `deleted = true` (optional column —
    * absent means all upserts) REVOKES its vec_id: the merge resolves
    * latest-batch-wins as usual, and when the winner is a tombstone the
    * vec_id is dropped from the snapshot entirely — so no later search
    * can return it, the tombstone itself occupies no permanent state
    * (the snapshot stays exactly the live rows), and a subsequent
    * re-insert of the id simply wins a later batch. Within one batch a
    * delete beats an upsert of the same id (deterministic, and the
    * conservative choice for takedowns). Replay-idempotent like every
    * merge here: a replayed batch re-derives the same winners from the
    * same strictly-below snapshot.
    */
  private def indexSink(
      vectors: DataFrame, encodeBatch: DataFrame => DataFrame,
      tableDir: String, checkpointDir: String, retainSnapshots: Int): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(vectors, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, batchId) =>
        val b =
          if (batch.columns.contains("deleted")) batch
          else batch.withColumn("deleted", lit(false))
        val fresh = encodeBatch(
            b.filter(!col("deleted"))
              .select(col("vec_id").cast("long").as("vec_id"), col("v")))
          .withColumn("ingest_batch", lit(batchId))
          .withColumn("__del", lit(false))
        val tombs = b.filter(col("deleted"))
          .select(col("vec_id").cast("long").as("vec_id"),
            lit(batchId).as("ingest_batch"), lit(true).as("__del"))
        val all = prev.map(_.withColumn("__del", lit(false)))
          .map(_.unionByName(fresh, allowMissingColumns = true))
          .getOrElse(fresh)
          .unionByName(tombs, allowMissingColumns = true)
        // Latest ingest wins per vec_id: a hash-shuffle on vec_id sized
        // by index + batch — no window over anything unkeyed. Tie-breaks
        // WITHIN one micro-batch are deterministic (same contract as
        // mergeSink's payload-column tie-breaks): delete first, then
        // payload hash — without them a replayed batch could pick the
        // other duplicate and commit a different snapshot than the first
        // attempt.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id")
          .orderBy(col("ingest_batch").desc, col("__del").desc, hash(col("v")).desc)
        all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1 && !col("__del"))
          .drop("__rn", "__del")
    }

  /** Query the live index: ADC + exact re-rank over the latest committed
    * snapshot, with the SAME frozen model that encoded it
    * ([[PqOps.searchEncoded]]). Vectors inserted by batch N are
    * searchable the moment snap_N commits.
    */
  def searchIndex(
      spark: SparkSession, tableDir: String, model: PqModel,
      probes: Seq[(Long, Seq[Double])], k: Int = 10, shortlist: Int = 50): DataFrame = {
    val snap = SnapshotStore.latest(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no committed ANN snapshot under $tableDir"))
    PqOps.searchEncoded(spark, snap.select("vec_id", "v", "code"), model, probes, k, shortlist)
  }

  /** Query the live IVF-PQ index: probe nprobe cells of the latest
    * committed snapshot, ADC-score their codes, exact-re-rank the
    * shortlist — with the SAME frozen composed model that encoded it
    * ([[graft.queries.IvfPqOps.searchEncodedCells]]).
    */
  def searchIvfPqIndex(
      spark: SparkSession, tableDir: String, model: graft.queries.IvfPqOps.IvfPqModel,
      probes: Seq[(Long, Seq[Double])], k: Int = 10, nprobe: Int = 4,
      shortlist: Int = 50): DataFrame = {
    val snap = SnapshotStore.latest(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no committed ANN snapshot under $tableDir"))
    graft.queries.IvfPqOps.searchEncodedCells(
      spark, snap.select("vec_id", "v", "cid", "code"), model, probes, k, nprobe, shortlist)
  }

  /** Query the live IVF index: probe the `nprobe` nearest cells of the
    * latest committed snapshot with the SAME frozen quantizer that
    * assigned it ([[IvfOps.searchCells]]).
    */
  def searchIvfIndex(
      spark: SparkSession, tableDir: String, cents: Seq[Seq[Double]],
      probes: Seq[(Long, Seq[Double])], k: Int = 10, nprobe: Int = 2): DataFrame = {
    val snap = SnapshotStore.latest(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no committed ANN snapshot under $tableDir"))
    val qs = spark.createDataFrame(
      spark.sparkContext.parallelize(probes, 1)).toDF("q_id", "qv")
    IvfOps.searchCells(spark, snap.select("vec_id", "v", "cid"), cents, qs, k, nprobe)
  }
}
