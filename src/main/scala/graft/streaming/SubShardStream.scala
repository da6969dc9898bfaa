package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twins of the SubShard per-user sequence operators (SURVEY
  * §7c2 item 5): sessionization and first/last-touch attribution
  * maintained AT INGESTION TIME with the exact boundary-summary
  * stitching algebra the batch operators use for hot-user sub-sharding
  * (graft.queries.SubShard) — each arriving micro-batch plays the role
  * of one time-bucket sub-shard, and the snapshot state carries
  * precisely what SubShard's per-bucket summary table carries:
  *
  *  - sessionize: the per-user OPEN session row (the "last row of the
  *    previous non-empty bucket" that stitches the next bucket's first
  *    row — [[graft.queries.SubShard.withPrev]]'s `__c` lag) embedded
  *    as the max-session_idx row of the maintained session table;
  *  - attribution: the per-user (first_click, last_click) running
  *    min/max — [[graft.queries.SubShard.chainedRunningAgg]]'s
  *    whole-earlier-shard summary — stitched into each batch with the
  *    same least/greatest null-skipping combine.
  *
  * Exact-equality contract (the same precondition SubShard's buckets
  * get from bucketing BY ts): per-user event-time MONOTONE batch
  * boundaries — every event a batch carries for a user follows, in
  * (ts_s, event_id) order, everything earlier batches carried for that
  * user. Within a batch, any order (each merge sorts by its own
  * window). Under that contract the maintained output equals the batch
  * operator over the full stream prefix row-for-row
  * (SubShardStreamSpec pins both equalities), and the SnapshotStore
  * strictly-below read makes crash-replay clean: a replayed batch
  * re-merges against exactly the state its first attempt saw.
  *
  * 100 TB posture: per micro-batch ONE batch-scale window (keyed
  * user×batch — a batch is minutes of data, never a user's history) +
  * one state-scale join/anti-join; state is one row per session /
  * one summary row per user, never per event.
  */
object SubShardStream {

  private def ordW = Window.partitionBy("user_id").orderBy("ts_s", "event_id")

  /** Maintain the per-user session table (user_id, session_idx,
    * start_ts, end_ts, n_events) under the SnapshotStore chain at
    * `tableDir`. Input batches need (user_id, event_id, ts_s). A new
    * batch's per-user fragments are sessionized locally (one
    * batch-scale window), then stitched: the first fragment merges
    * into the user's open session iff its gap to the open session's
    * end is within `gapSecs` — the SubShard.chainedCumsum boundary
    * offset, materialized.
    */
  def sessionSink(
      events: DataFrame, tableDir: String, checkpointDir: String,
      gapSecs: Long = 1800L, retainSnapshots: Int = 3): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(events, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, _) =>
        val flagged = batch.select("user_id", "event_id", "ts_s")
          .withColumn("__p", lag("ts_s", 1).over(ordW))
          .withColumn("__new",
            when(col("__p").isNull || col("ts_s") - col("__p") > gapSecs, 1L)
              .otherwise(0L))
          .withColumn("frag", sum("__new").over(
            ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val frags = flagged.groupBy("user_id", "frag")
          .agg(min("ts_s").as("f_start"), max("ts_s").as("f_end"),
            count(lit(1)).as("f_n"))
        prev match {
          case None =>
            frags.select(col("user_id"), col("frag").as("session_idx"),
              col("f_start").as("start_ts"), col("f_end").as("end_ts"),
              col("f_n").as("n_events"))
          case Some(p) =>
            // The open (max-idx) session per user — SubShard's
            // previous-bucket boundary row.
            val open = p.groupBy("user_id")
              .agg(max(struct(col("session_idx"), col("start_ts"),
                col("end_ts"), col("n_events"))).as("o"))
              .select(col("user_id"), col("o.session_idx").as("open_idx"),
                col("o.start_ts").as("o_start"), col("o.end_ts").as("o_end"),
                col("o.n_events").as("o_n"))
            // Per-user stitch decision off fragment 1 alone; its merge
            // shifts EVERY fragment's index for that user.
            val stitch = frags.filter(col("frag") === 1)
              .join(open, Seq("user_id"), "left")
              .select(col("user_id"),
                (col("open_idx").isNotNull &&
                  col("f_start") - col("o_end") <= gapSecs).as("mrg"),
                coalesce(col("open_idx"), lit(0L)).as("base_idx"),
                col("o_start"), col("o_n"))
            val updated = frags.join(stitch, Seq("user_id"))
              .withColumn("session_idx",
                when(col("mrg"), col("base_idx") + col("frag") - 1)
                  .otherwise(col("base_idx") + col("frag")))
              .select(col("user_id"), col("session_idx"),
                when(col("mrg") && col("frag") === 1, col("o_start"))
                  .otherwise(col("f_start")).as("start_ts"),
                col("f_end").as("end_ts"),
                (when(col("mrg") && col("frag") === 1, col("o_n"))
                  .otherwise(lit(0L)) + col("f_n")).as("n_events"))
            p.join(updated.select("user_id", "session_idx").distinct(),
                Seq("user_id", "session_idx"), "left_anti")
              .unionByName(updated)
        }
    }

  /** The maintained session table as of the latest committed batch. */
  def sessions(spark: org.apache.spark.sql.SparkSession, tableDir: String): Option[DataFrame] =
    SnapshotStore.latest(spark, tableDir)

  /** First/last-touch attribution at ingestion: state = one
    * (user_id, first_click, last_click) summary row per user; each
    * batch's purchases attribute against the within-batch running
    * min/max click over EARLIER batch rows stitched with the state via
    * the same null-skipping least/greatest combine
    * chainedRunningAgg uses across sub-shards. Per-batch attributed
    * purchases (user_id, event_id, ts_s, first_click, last_click) are
    * written under `outDir/batch_<id>` (overwrite — replay-idempotent
    * like the snapshot chain). Input batches need
    * (user_id, event_id, ts_s, event_type).
    */
  def attributionSink(
      events: DataFrame, tableDir: String, outDir: String, checkpointDir: String,
      retainSnapshots: Int = 3): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(events, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, batchId) =>
        val w = ordW.rowsBetween(Window.unboundedPreceding, -1)
        val b = batch
          .withColumn("click_ts", when(col("event_type") === "click", col("ts_s")))
          .withColumn("__wf", min("click_ts").over(w))
          .withColumn("__wl", max("click_ts").over(w))
        val withState = prev match {
          case Some(p) => b.join(p, Seq("user_id"), "left")
          case None => b.withColumn("s_first", lit(null).cast("long"))
            .withColumn("s_last", lit(null).cast("long"))
        }
        val out = withState
          .withColumn("first_click", least(col("__wf"), col("s_first")))
          .withColumn("last_click", greatest(col("__wl"), col("s_last")))
          .filter(col("event_type") === "purchase" && col("first_click").isNotNull)
          .select("user_id", "event_id", "ts_s", "first_click", "last_click")
        out.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        val bs = batch.filter(col("event_type") === "click")
          .groupBy("user_id")
          .agg(min("ts_s").as("b_first"), max("ts_s").as("b_last"))
        prev match {
          case Some(p) =>
            p.join(bs, Seq("user_id"), "full_outer")
              .select(col("user_id"),
                least(col("s_first"), col("b_first")).as("s_first"),
                greatest(col("s_last"), col("b_last")).as("s_last"))
          case None =>
            bs.select(col("user_id"), col("b_first").as("s_first"),
              col("b_last").as("s_last"))
        }
    }

  /** Attributed purchases emitted for one batch. */
  def attributions(
      spark: org.apache.spark.sql.SparkSession, outDir: String,
      batchId: Long): DataFrame =
    spark.read.parquet(s"$outDir/batch_$batchId")
}
