package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.SketchOps2.{cmsCells, cmsProbes}

/** Streaming twin of the batch `curate_cms_counts` operator: maintain a
  * count-min sketch of per-user event counts under ingestion, built by
  * the batch operator's own probes and cells. Unlike every other
  * snapshot-chain sink (whose state tables grow with the key space), the
  * CMS state is FIXED-SIZE FOREVER — at most d × w = 8192 cell rows no
  * matter how many users or events flow through — which is the property
  * that lets a frequency sketch sit in the hot path of an unbounded
  * stream.
  *
  * Merge algebra is cell-wise addition (count-min sketches are linear),
  * so the maintained sketch is EXACTLY the sketch the batch operator
  * builds over everything that flowed through — spec-checked, not
  * approximate. Estimates keep the one-sided guarantee: est ≥ true
  * count, always.
  */
object CmsStream {

  /** Maintain the sketch chain at `tableDir` under a stream of events
    * with a `user_id` column.
    */
  def cmsSink(
      events: DataFrame, tableDir: String, checkpointDir: String,
      retainSnapshots: Int = 3): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(events, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, _) =>
        val fresh = cmsCells(cmsProbes(batch))
        prev match {
          case Some(p) => p.unionByName(fresh).groupBy("r", "b").agg(sum("c").as("c"))
          case None => fresh
        }
    }

  /** Point estimates for `keys` (a user_id frame) against the latest
    * committed sketch: min over the d probed cells, absent cells = 0.
    */
  def estimate(spark: SparkSession, tableDir: String, keys: DataFrame): DataFrame = {
    val snap = SnapshotStore.latest(spark, tableDir)
      .getOrElse(spark.emptyDataFrame.select(lit(0).as("r"), lit(0L).as("b"), lit(0L).as("c")))
    cmsProbes(keys)
      .join(broadcast(snap), Seq("r", "b"), "left")
      .groupBy("user_id")
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }
}
