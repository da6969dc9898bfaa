package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.CCNetOps

/** Streaming anneal-schedule twin (§2 25kh) — the online companion of
  * `curate_anneal_schedule` (CCNetOps.scala): as document batches
  * arrive, maintain the per-doc (doc_id, w, c) term-count table over
  * the [[SnapshotStore]] chain and emit the REFRESHED two-phase
  * curriculum (main/anneal membership, quotas, per-tercile fill
  * cursors) after every micro-batch. A pretraining pipeline watches
  * this to see where the token budgets stand as the corpus grows —
  * new high-quality arrivals re-cut the terciles and push earlier
  * marginal docs across the main/anneal/dropped boundaries, and the
  * emitted schedule reflects that immediately.
  *
  * Algebra: the state is the docWord table — ONE row per (doc_id, w),
  * maintained by the same full-outer count-merge as [[DoremiStream]]
  * (associative, replay-deterministic under the strictly-below
  * snapshot read); tokenization happens once per arriving doc and
  * history is NEVER re-tokenized. The schedule is
  * `CCNetOps.annealScheduleFromRanked ∘ ccnetRankedFromDocWord`
  * applied to the merged state — a deterministic closed form of the
  * state, so the emitted schedule equals the batch recompute over the
  * full stream prefix by construction. AnnealStreamSpec proves the
  * maintained STATE equals a from-scratch re-tokenization of the
  * prefix (the part incremental maintenance could get wrong) and that
  * the emitted schedule equals the batch operator's output.
  *
  * 100 TB posture: per batch, one batch-scale exchange (the batch's
  * (doc_id, w) partial agg) + one state-scale full-outer merge; the
  * schedule recompute reuses the batch operator's own scale shapes
  * (vocabulary-broadcast frequencies, bucket-offset rank windows, 1-row
  * budget broadcasts). The emitted artifact is a corpus-wide
  * curriculum — inherently corpus-scale output; emit cadence, not the
  * state algebra, is the knob a deployment would turn down.
  */
object AnnealStream {

  /** Maintain the docWord state at `tableDir`; write the post-batch
    * schedule under `outDir/batch_<id>` (overwrite — replay-idempotent
    * like the snapshot chain itself).
    */
  def scheduleSink(
      docs: DataFrame, tableDir: String, outDir: String, checkpointDir: String,
      retainSnapshots: Int = 3): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(docs, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, batchId) =>
        val bdw = CCNetOps.docWord(batch).withColumnRenamed("c", "bc")
        val merged = prev match {
          case Some(p) =>
            p.join(bdw, Seq("doc_id", "w"), "full_outer")
              .select(col("doc_id"), col("w"),
                (coalesce(col("c"), lit(0L)) + coalesce(col("bc"), lit(0L)))
                  .as("c"))
          case None => bdw.select(col("doc_id"), col("w"), col("bc").as("c"))
        }
        CCNetOps.annealScheduleFromRanked(CCNetOps.ccnetRankedFromDocWord(merged))
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        merged
    }

  /** The emitted curriculum of one batch: (phase, bucket, doc_id,
    * n_toks, quota_toks, phase_cum_before) as of that batch's prefix.
    */
  def readSchedule(
      spark: org.apache.spark.sql.SparkSession, outDir: String,
      batchId: Long): DataFrame =
    spark.read.parquet(s"$outDir/batch_$batchId")
}
