package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Materialize

/** Streaming twin of the batch `text_dup_fraction` operator: maintain a
  * passage→seen-doc-count table under document ingestion, and tag every
  * arriving document with the share of its 8-gram passages ALREADY SEEN
  * in earlier batches — the online boilerplate filter (a doc arriving
  * with dup_frac ≈ 1 is a reprint; ≈ 0 is fresh content).
  *
  * Scale shape: each micro-batch hashes its own passages map-side
  * (O(batch)), merges per-passage counts into the [[SnapshotStore]]
  * chain with count+count algebra (the AggViewStream pattern — state
  * lives in parquet snapshots, not executor memory, so a 10⁹-passage
  * vocabulary costs a keyed merge per batch), and tags the batch by
  * joining its passages against the snapshot STRICTLY BELOW the current
  * batch id. That strictly-below read gives replay determinism (a
  * replayed batch tags against exactly what its first attempt saw) and
  * gives the tag its meaning: "seen before this batch arrived".
  */
object PassageStream {

  /** 8-gram passage hashes per doc (distinct within doc) from a
    * (doc_id, text) frame — identical construction to the batch
    * operator.
    */
  private[streaming] def passages(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(1), size(col("toks")) - 7),
          i => xxhash64(concat_ws(" ",
            (0 to 7).map(o => element_at(col("toks"), i + o)): _*))))).as("ph"))
  }

  /** Maintain the passage-count snapshot chain at `tableDir` and write
    * per-batch tagged docs (doc_id, n_passages, seen_passages, dup_frac)
    * under `outDir/batch_<id>` (overwrite — replay-idempotent like the
    * snapshot itself).
    */
  def dupTagSink(
      docs: DataFrame, tableDir: String, outDir: String, checkpointDir: String,
      retainSnapshots: Int = 3): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(docs, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, batchId) =>
        // Cached for the batch's three uses (tag join, per-doc counts,
        // fresh passage counts); the store releases it after the
        // snapshot write.
        val win = Materialize.cache(passages(batch))
        // Tag against what was seen BEFORE this batch (prev snapshot).
        val seen = prev match {
          case Some(p) => win.join(p.select(col("ph")), Seq("ph"), "left_semi")
            .groupBy("doc_id").agg(count(lit(1)).as("seen_passages"))
          case None => win.select(col("doc_id")).distinct()
            .withColumn("seen_passages", lit(0L)).filter(lit(false))
        }
        win.groupBy("doc_id").agg(count(lit(1)).as("n_passages"))
          .join(seen, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_passages"),
            coalesce(col("seen_passages"), lit(0L)).as("seen_passages"),
            round(coalesce(col("seen_passages"), lit(0L)) / col("n_passages").cast("double"), 4)
              .as("dup_frac"))
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        // The next snapshot: previous counts + this batch's counts.
        val fresh = win.groupBy("ph").agg(count(lit(1)).as("nd"))
        prev match {
          case Some(p) => p.unionByName(fresh).groupBy("ph").agg(sum("nd").as("nd"))
          case None => fresh
        }
    }

  /** Test seam: the passage construction, for recompute comparisons. */
  private[streaming] def passagesForTest(docs: DataFrame): DataFrame = passages(docs)

  /** Read the tagged output of one batch. */
  def readTagged(spark: SparkSession, outDir: String, batchId: Long): DataFrame =
    spark.read.parquet(s"$outDir/batch_$batchId")
}
