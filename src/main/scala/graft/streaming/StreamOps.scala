package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event analytics in
  * graft.queries.EventOps (same semantics; batch versions are
  * oracle-verified, these are spec-verified with MemoryStream).
  *
  * Design for scale: watermarks bound state; tumbling aggregation is a
  * streaming shuffle keyed by (window, event_type); sessionization keeps
  * one small state object per user via flatMapGroupsWithState.
  */
object StreamOps {

  final case class Ev(user_id: Long, ts: Timestamp, event_type: String, value: Double)

  final case class SessionOut(
      user_id: Long, session_start: Long, session_end: Long, n_events: Long, sum_value: Double)

  /** Per-user session accumulator (flatMapGroupsWithState state type). */
  final case class SessState(start: Long, last: Long, cnt: Long, total: Double)


  /** Watermarked windowed SKETCH aggregation: approximate distinct users
    * per tumbling window. approx_count_distinct is a mergeable HLL, so
    * partial sketches combine across micro-batches and shuffle
    * partitions — streaming state is O(open windows × sketch bytes),
    * independent of user cardinality. The exact COUNT DISTINCT is not
    * expressible in streaming at all (unbounded per-window state); the
    * sketch is the only 100 TB-viable form, which is why it gets its own
    * streaming entry rather than only the batch one (q_approx_distinct).
    */
  def windowSketchAgg(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("approx_users"), col("n_events"))

  /** Watermarked tumbling-window aggregation per event type. */
  def tumblingAgg(events: DataFrame, windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming exact-dedup: drop repeat events by key within the
    * watermark horizon — state is bounded by the watermark, the streaming
    * twin of the batch dedup_exact operator.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols :+ "ts")

  /** Stream-static enrichment: join the event stream against a static
    * dimension table (broadcast per micro-batch; no streaming state).
    */
  def enrich(events: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), keys)

  /** Streaming NEAR-dup suppression: drop events whose text collapses to
    * an already-seen 64-bit SimHash within the watermark horizon — the
    * streaming twin of the batch dedup_simhash operator, with state
    * bounded by the watermark. `textCol` must be a whitespace-tokenizable
    * string column.
    */
  def nearDedupStream(events: DataFrame, textCol: String, watermark: String = "1 hour"): DataFrame = {
    val toks = split(col(textCol), " ")
    events
      .withColumn("__simhash", graft.queries.TextOps.simhash64(toks))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__simhash")
      .drop("__simhash")
  }

  /** Stream-stream interval join: each left event matched to right-stream
    * events for the same user within [ts - range, ts]. Both sides are
    * watermarked so Spark can bound the join state buffer — the streaming
    * twin of the batch banded range join (graft.queries.JoinOps).
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      key: String, range: String = "60 seconds",
      watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark("ts", watermark).as("l")
    val r = right.withWatermark("ts", watermark).as("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.ts BETWEEN l.ts - INTERVAL $range AND l.ts"))
  }

  /** File-source → file-sink ETL: ingest JSON-lines files landing in a
    * directory, transform, and append day-partitioned parquet with
    * exactly-once semantics (checkpointed source offsets + transactional
    * file commit log). Trigger.AvailableNow drains everything present and
    * stops — the incremental-batch pattern for scheduled 100 TB backfills:
    * re-running with the same checkpoint processes only NEW files.
    */
  def fileEtl(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, checkpointDir: String,
      schema: String = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(schema)
      .json(inDir)
      .filter(col("value").isNotNull)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("day")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming upsert (MERGE) sink: maintain a latest-row-per-key
    * parquet snapshot from a stream of updates via foreachBatch — the
    * merge pattern without a transactional table format. Each micro-batch
    * merges the previous snapshot with its new rows (latest ts per
    * user_id wins; exact-ts ties break deterministically on the payload
    * columns) and writes snapshot
    * directory `snap_<batchId>`. Exactly-once across restarts comes from
    * the idempotence of the merge, not from luck: a REPLAYED batch id
    * reads the latest snapshot with id strictly BELOW itself — the same
    * input state as the first attempt — and overwrites its own output
    * directory, converging to the identical snapshot. Readers take the
    * highest complete snapshot ([[SnapshotStore.latest]]).
    */
  def mergeSink(
      updates: DataFrame, tableDir: String, checkpointDir: String,
      retainSnapshots: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    SnapshotStore.snapshotSinkWithId(updates, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, _) =>
        val all = prev match {
          case Some(p) => p.unionByName(batch)
          case None => batch
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_type").desc, col("value").desc)
        all
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
    }

  /** NATIVE declarative sessionization: Spark's `session_window`
    * aggregation — the engine-managed sibling of the hand-rolled
    * [[sessionize]] below. Sessions merge as events arrive (dynamic
    * gap-close handled by the streaming session-window state store),
    * results emit once the watermark passes a session's end. Prefer
    * this when per-session logic is pure aggregation (counts/sums):
    * it stays in whole-stage-codegen'd aggregates with partial merge,
    * while flatMapGroupsWithState is the escape hatch for custom
    * state transitions. Session end = last event + gap (the
    * session_window contract; [[sessionize]] reports last-event time —
    * the spec reconciles the two shapes on the same stream).
    */
  def sessionWindowAgg(
      events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Gap-based sessionization: a session closes when its user is silent
    * for `gapSecs` (closed either by a later event or by event-time
    * timeout once the watermark passes). State per user is O(1).
    */
  def sessionize(events: Dataset[Ev], gapSecs: Long, watermark: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, evs, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s => SessionOut(userId, s.start, s.last, s.cnt, s.total))
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            for (e <- sorted) {
              val t = e.ts.getTime / 1000
              cur match {
                case Some(s) if t - s.last > gapSecs =>
                  closed += SessionOut(userId, s.start, s.last, s.cnt, s.total)
                  cur = Some(SessState(t, t, 1, e.value))
                case Some(s) =>
                  cur = Some(SessState(s.start, math.max(s.last, t), s.cnt + 1, s.total + e.value))
                case None =>
                  cur = Some(SessState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              // Late-but-valid data (within the watermark, but older than
              // watermark − gap) would make the natural timeout land
              // before the current watermark, which Spark rejects. If the
              // session is already past its gap relative to the watermark,
              // close it now; otherwise register the (clamped) timeout.
              val natural = (s.last + gapSecs) * 1000
              val wm = state.getCurrentWatermarkMs()
              if (natural <= wm) {
                closed += SessionOut(userId, s.start, s.last, s.cnt, s.total)
                if (state.exists) state.remove()
              } else {
                state.update(s)
                state.setTimeoutTimestamp(math.max(natural, wm + 1))
              }
            }
            closed.result().iterator
          }
      }
  }
}
