package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Materialize
import graft.queries.TextOps3

/** Streaming twin of `text_ngram_novelty` (§2 25kd) — the online
  * memorization/novelty monitor: as document batches arrive, maintain
  * the gram → first-seeing-doc table over the [[SnapshotStore]] chain
  * and emit, per batch, each arriving document's novelty profile
  * (fraction of its 3-grams seen in no earlier document). A curation
  * pipeline watches this to detect the corpus going stale (novelty
  * collapsing toward 0 as new sources repeat old content) without ever
  * re-scanning history.
  *
  * Semantics: the state is (gram-hash, fd) — the MINIMUM doc_id ever
  * seen carrying that gram, merged per batch by a full-outer min join
  * (associative and commutative, so replay-deterministic under the
  * strictly-below snapshot read); a batch document's gram occurrence is
  * novel iff the post-merge first-doc equals its own doc_id. For
  * batches arriving in doc_id order this equals the batch operator over
  * the prefix corpus restricted to the batch's documents
  * (NoveltyStreamSpec proves both: state == batch first-table recompute,
  * and concatenated outputs == the batch operator).
  *
  * Scale shape: gram construction is the batch operator's own map-only
  * [[TextOps3.docTrigrams]]; the state carries ONE row per distinct
  * gram, keyed by a 128-bit md5 of the gram (never raw text); per batch
  * the work is one batch-scale exchange + one gram-vocabulary-scale
  * full-outer merge. History is never re-tokenized.
  */
object NoveltyStream {

  /** Maintain the first-doc state at `tableDir`; write per-batch
    * novelty profiles (doc_id, n_grams, n_novel, novelty) under
    * `outDir/batch_<id>` (overwrite — replay-idempotent like the
    * snapshot chain itself).
    */
  def noveltySink(
      docs: DataFrame, tableDir: String, outDir: String, checkpointDir: String,
      retainSnapshots: Int = 3): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(docs, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, batchId) =>
        val tri = Materialize.cache(TextOps3.docTrigrams(batch)
          .withColumn("gh", md5(col("g"))).drop("g"))
        val batchFirst = tri.groupBy("gh").agg(min("doc_id").as("bfd"))
        val merged = prev match {
          case Some(p) =>
            p.join(batchFirst, Seq("gh"), "full_outer")
              .select(col("gh"),
                least(coalesce(col("fd"), col("bfd")),
                  coalesce(col("bfd"), col("fd"))).as("fd"))
          case None => batchFirst.select(col("gh"), col("bfd").as("fd"))
        }
        // Profile THIS batch against the prefix-inclusive first-doc table.
        tri.join(merged, Seq("gh"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("doc_id") === col("fd"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty",
            round(col("n_novel") / col("n_grams").cast("double"), 4))
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        merged
    }

  /** The novelty profile emitted for one batch. */
  def readProfiles(spark: SparkSession, outDir: String, batchId: Long): DataFrame =
    spark.read.parquet(s"$outDir/batch_$batchId")
}
