package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.TextOps

/** Stateful streaming benchmark decontamination: arriving corpus
  * documents are flagged against an eval-set n-gram table that is
  * RELOADED EVERY MICRO-BATCH — so benchmark registrations landing while
  * the stream runs take effect on the next batch, without a restart
  * (reference behavior: tables refresh between pipeline steps,
  * src/session/pipeline.rs — downstream consumers always read current
  * state).
  *
  * Each batch runs the batch `text_decontaminate` operator's own gram
  * and flag steps ([[TextOps.docGrams]], [[TextOps.flagContaminated]]):
  * the benchmark gram set is the SMALL side (eval suites are MBs against
  * a 100 TB corpus), so it broadcasts and the corpus-side check is a
  * map-only semi-join — per batch, O(batch grams), no corpus-side
  * shuffle. Re-reading the gram table per batch costs one small-file
  * scan per trigger, the price of freshness.
  */
object DecontamStream {

  /** Flag a stream of (`doc_id` Long, `text` String) docs against the
    * parquet gram table at `benchDir` (single column `g`). Each batch
    * writes `outDir/batch_<batchId>` with
    * (doc_id, n_matched, contaminated, ingest_batch) — overwriting its
    * own directory, so a replayed batch is idempotent. Docs shorter than
    * `n` tokens carry zero grams and flag clean.
    */
  def decontamSink(
      docs: DataFrame, benchDir: String, outDir: String, checkpointDir: String,
      n: Int = 4): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // Freshness point: the gram table is read INSIDE the batch, not
        // captured at stream start — a frozen broadcast here is the bug
        // this sink exists to avoid.
        val bench = spark.read.parquet(benchDir).select(col("g")).distinct()
        val toks = batch
          .select(col("doc_id").cast("long").as("doc_id"),
            split(col("text"), " ").as("toks"))
        TextOps.flagContaminated(
          toks, TextOps.docGrams(toks.filter(size(col("toks")) >= n), n), bench)
          .withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
