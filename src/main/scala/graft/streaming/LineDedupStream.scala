package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Materialize
import graft.queries.LineDedupOps

/** Streaming twin of `text_line_dedup` (RefinedWeb/C4 boilerplate-line
  * removal): suppress, ONLINE, every 4-word line an arriving document
  * shares with the corpus often enough to be boilerplate — the
  * cookie-banner/header filter running at ingestion time instead of as
  * a batch sweep.
  *
  * Semantics per micro-batch: the line-frequency STATE is the exact
  * corpus-wide count of every distinct line over all batches up to and
  * including this one; a line of an arriving document is dropped when
  * that prefix-inclusive count reaches K — so two copies arriving in
  * the same batch as an historical copy suppress each other exactly as
  * the batch operator would over the union. Documents already emitted
  * are NOT retroactively re-cleaned (online semantics; the batch
  * operator over the full corpus is the reconciliation sweep).
  *
  * Scale shape: line construction is the batch operator's own MAP-ONLY
  * transform; the state is (line-hash, count) — ONE row per distinct
  * line, merged by a full-outer sum join per batch (associative,
  * replay-deterministic under the [[SnapshotStore]] strictly-below
  * snapshot read); the membership probe back to the batch's lines is
  * keyed on the 128-bit hash, never on raw text.
  */
object LineDedupStream {

  /** Maintain the line-frequency state at `tableDir` and write
    * per-batch cleaned docs (doc_id, n_lines, n_dropped, clean_text)
    * under `outDir/batch_<id>` (overwrite — replay-idempotent like the
    * snapshot chain itself).
    */
  def cleanSink(
      docs: DataFrame, tableDir: String, outDir: String, checkpointDir: String,
      retainSnapshots: Int = 3): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(docs, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, batchId) =>
        val lines = Materialize.cache(LineDedupOps.docLines(batch)
          .withColumn("lh", md5(col("line"))))
        val batchCnt = lines.groupBy("lh").agg(count(lit(1)).as("bc"))
        val merged = prev match {
          case Some(p) =>
            p.join(batchCnt, Seq("lh"), "full_outer")
              .select(col("lh"),
                (coalesce(col("cnt"), lit(0L)) + coalesce(col("bc"), lit(0L)))
                  .as("cnt"))
          case None => batchCnt.select(col("lh"), col("bc").as("cnt"))
        }
        // Clean THIS batch against the prefix-inclusive counts.
        val dup = merged.filter(col("cnt") >= LineDedupOps.K)
          .select(col("lh"), lit(true).as("dup"))
        lines.join(dup, Seq("lh"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("dup"), lit(1L)).otherwise(lit(0L))).as("n_dropped"),
            concat_ws(" ", transform(
              array_sort(collect_list(when(col("dup").isNull,
                struct(col("line_no"), col("line"))))),
              e => e.getField("line"))).as("clean_text"))
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        merged
    }

  /** Read the cleaned output of one batch. */
  def readCleaned(spark: SparkSession, outDir: String, batchId: Long): DataFrame =
    spark.read.parquet(s"$outDir/batch_$batchId")
}
