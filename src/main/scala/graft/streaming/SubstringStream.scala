package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Materialize
import graft.queries.SubstringDedupOps

/** Streaming twin of `dedup_substring_apply` (Lee et al. 2021 exact
  * substring dedup): suppress, ONLINE, every verbatim ≥K-token span an
  * arriving document shares with the corpus seen so far — the licence
  * boilerplate / quote-chain filter running at ingestion time instead
  * of as a batch sweep.
  *
  * Semantics per micro-batch: a position in an arriving document is
  * duplicated when its K-gram anchor hash (1) was seen in ANY earlier
  * batch (doc-agnostic history membership — a verbatim reprint of
  * already-ingested text is suppressed even if the original had the
  * span only once), or (2) is shared by ≥2 documents WITHIN the batch
  * (the batch operator's own cross-doc rule, so documents arriving
  * together deduplicate against each other exactly as the batch sweep
  * would). Marks fuse into maximal spans and the span plan is executed
  * by the shared complement-filter lambda — for a document whose
  * duplicated spans all cross OTHER documents, the streaming output is
  * byte-equal to running the batch `dedup_substring_apply` over the
  * union of everything ingested (asserted by the spec).
  *
  * Scale shape: each batch anchors map-side (O(batch tokens)); the
  * history probe is a semi-join of batch anchors against the
  * [[SnapshotStore]] anchor-hash set keyed by the 8-byte hash (state
  * lives in parquet snapshots, not executor memory — a 10⁹-anchor
  * history costs one keyed semi-join per batch, never a rescan); span
  * fusion windows partition by doc_id; the next snapshot is the
  * previous set ∪ the batch's distinct hashes (set union — associative,
  * replay-deterministic, and the strictly-below snapshot read means a
  * replayed batch cleans against exactly what its first attempt saw).
  */
object SubstringStream {

  /** Maintain the anchor-hash history at `tableDir` and write per-batch
    * cleaned docs (doc_id, n_tokens, kept_tokens, clean_text) under
    * `outDir/batch_<id>` (overwrite — replay-idempotent like the
    * snapshot chain itself).
    */
  def cleanSink(
      docs: DataFrame, tableDir: String, outDir: String, checkpointDir: String,
      retainSnapshots: Int = 3): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(docs, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, batchId) =>
        // Cached for the batch's three uses (history probe, in-batch
        // count table + join back, fresh-hash set); the store releases
        // it after the snapshot write.
        val t = SubstringDedupOps.tokens(batch)
        val anchors = Materialize.cache(SubstringDedupOps.anchorsOf(t))
        val histDup = prev match {
          case Some(p) =>
            anchors.join(p.select(col("ph")), Seq("ph"), "left_semi")
              .select("doc_id", "pos")
          case None =>
            anchors.select("doc_id", "pos").filter(lit(false))
        }
        val batchDup = anchors.join(
          anchors.groupBy("ph").agg(countDistinct(col("doc_id")).as("nd"))
            .filter(col("nd") >= 2).select("ph"),
          Seq("ph")).select("doc_id", "pos")
        val spans = SubstringDedupOps.fuseSpans(
          histDup.unionByName(batchDup).distinct())
        SubstringDedupOps.cleanWith(t, spans)
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        // Next snapshot: every anchor hash ever seen (set union).
        val fresh = anchors.select("ph").distinct()
        prev match {
          case Some(p) => p.select("ph").unionByName(fresh).distinct()
          case None    => fresh
        }
    }

  /** Read the cleaned output of one batch. */
  def readCleaned(spark: SparkSession, outDir: String, batchId: Long): DataFrame =
    spark.read.parquet(s"$outDir/batch_$batchId")
}
