package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Interval analytics over the events table: overlap merging and
  * sweep-line concurrency — the two classic "events as time ranges"
  * operators (uptime/coverage accounting and peak-load sizing).
  *
  * Every event is widened to a fixed 300 s activity interval; all
  * arithmetic stays in whole-second integers end-to-end, so the engines
  * agree bit-for-bit and the oracles hash-match without tolerance
  * gates.
  */
object EventOps2 {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "events")

  val defs: Map[String, QDef] = Map(

    // §2 25fd interval COVERAGE: merge overlapping [ts, ts+300) activity
    // intervals per user (classic lag/cummax island detection), then
    // report islands and total covered seconds. Windows partition by
    // user_id — bounded per-key state, shuffle keyed like every other
    // per-user analytic; nothing global.
    "ev_interval_merge" -> QDef(
      (s, dir) => {
        // Running max(en) and the island cumsum ride SubShard
        // (chainedRunningAgg + chainedCumsum over user × time-bucket
        // sub-shards) so a hot user's intervals parallelize; output
        // identical to the plain window for any bucket width. The
        // ordering column is the interval start (`st` aliased ts_s).
        val base = ev(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_timestamp(col("ts")).as("ts_s"),
            (unix_timestamp(col("ts")) + 300L).as("en"))
        val mx = SubShard.maxPerUser(base)
        val flagged = SubShard.chainedRunningAgg(base,
            Seq(("en", "max", "prev_end")), mx = mx)
          .withColumn("is_new",
            when(col("prev_end").isNull || col("ts_s") > col("prev_end"), 1L).otherwise(0L))
        SubShard.chainedCumsum(flagged, "is_new", "island", mx = mx)
          .groupBy("user_id", "island")
          .agg(min("ts_s").as("ist"), max("en").as("ien"))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_islands"),
            sum(col("ien") - col("ist")).as("covered_s"))
          .orderBy("user_id")
      },
      """WITH iv AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS st,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 300 AS en
        |  FROM events),
        |flag AS (
        |  SELECT user_id, event_id, st, en,
        |    CASE WHEN MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |         OR st > MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM iv),
        |isl AS (
        |  SELECT user_id, st, en,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flag),
        |grp AS (
        |  SELECT user_id, island, MIN(st) AS ist, MAX(en) AS ien
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(ien - ist) AS BIGINT) AS covered_s
        |FROM grp GROUP BY user_id ORDER BY user_id""".stripMargin),

    // §2 25fk TIME-BOUNDED ordered funnel: signup → click → purchase
    // where each step lands within 3600 s of the previous one —
    // the windowed upgrade of ev_funnel's unbounded ordering. Each stage
    // is a grouped MIN over the candidate step events joined against the
    // previous stage's anchor (partial-aggregated, keyed by user_id; no
    // per-user windows, no sort). Min-qualifying-timestamp chaining is
    // deterministic whole-second integer arithmetic on both engines.
    "ev_funnel_windowed" -> QDef(
      (s, dir) => {
        val e = ev(s, dir)
          .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("ts_s"))
        // a and b are each referenced twice (next stage + final count);
        // cache the per-user anchors or their event scans re-execute
        // per reference.
        val a = Materialize.cache(e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts_s").as("ta")))
        val b = Materialize.cache(e.filter(col("event_type") === "click").join(a, "user_id")
          .filter(col("ts_s") > col("ta") && col("ts_s") <= col("ta") + 3600L)
          .groupBy("user_id").agg(min("ts_s").as("tb")))
        val c = e.filter(col("event_type") === "purchase").join(b, "user_id")
          .filter(col("ts_s") > col("tb") && col("ts_s") <= col("tb") + 3600L)
          .groupBy("user_id").agg(min("ts_s").as("tc"))
        a.agg(count(lit(1)).as("n_signup"))
          .crossJoin(b.agg(count(lit(1)).as("n_click_1h")))
          .crossJoin(c.agg(count(lit(1)).as("n_purchase_1h")))
      },
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |a AS (SELECT user_id, MIN(ts_s) AS ta FROM e
        |      WHERE event_type = 'signup' GROUP BY 1),
        |b AS (SELECT e.user_id, MIN(ts_s) AS tb
        |      FROM e JOIN a USING (user_id)
        |      WHERE event_type = 'click' AND ts_s > ta AND ts_s <= ta + 3600
        |      GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(ts_s) AS tc
        |      FROM e JOIN b USING (user_id)
        |      WHERE event_type = 'purchase' AND ts_s > tb AND ts_s <= tb + 3600
        |      GROUP BY 1)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_signup,
        |  CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_click_1h,
        |  CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_purchase_1h""".stripMargin),

    // §2 25gh funnel with NEGATION (signup → purchase ≤ 1 h, excluding
    // users who hit an error strictly between the two anchor events) —
    // the exclusion-step funnel flavor batch SQL usually punts on. The
    // anchor times chain as grouped MINs joined stage-to-stage (the
    // ev_funnel_windowed shape); the negation is one equi-join of the
    // error stream against the per-user anchor interval plus an ANTI
    // join — everything keyed by user_id, no per-user sort.
    "ev_funnel_negation" -> QDef(
      (s, dir) => {
        val e = ev(s, dir)
          .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("ts_s"))
        val a = Materialize.cache(e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts_s").as("ta")))
        val p = e.filter(col("event_type") === "purchase").join(a, "user_id")
          .filter(col("ts_s") > col("ta") && col("ts_s") <= col("ta") + 3600L)
          .groupBy("user_id").agg(min("ts_s").as("tp"))
        // j feeds both the error-interval join and the final counts.
        val j = Materialize.cache(p.join(a, "user_id"))
        val bad = e.filter(col("event_type") === "error").join(j, "user_id")
          .filter(col("ts_s") > col("ta") && col("ts_s") < col("tp"))
          .select("user_id").distinct()
        a.agg(count(lit(1)).as("n_signup"))
          .crossJoin(j.agg(count(lit(1)).as("n_purchase_1h")))
          .crossJoin(j.join(bad, Seq("user_id"), "left_anti")
            .agg(count(lit(1)).as("n_clean")))
      },
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events),
        |a AS (SELECT user_id, MIN(ts_s) AS ta FROM e
        |      WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(ts_s) AS tp
        |      FROM e JOIN a USING (user_id)
        |      WHERE event_type = 'purchase' AND ts_s > ta AND ts_s <= ta + 3600
        |      GROUP BY 1),
        |j AS (SELECT user_id, ta, tp FROM p JOIN a USING (user_id)),
        |bad AS (SELECT DISTINCT e.user_id FROM e JOIN j USING (user_id)
        |        WHERE event_type = 'error' AND ts_s > ta AND ts_s < tp)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_signup,
        |  CAST((SELECT COUNT(*) FROM j) AS BIGINT) AS n_purchase_1h,
        |  CAST((SELECT COUNT(*) FROM j WHERE user_id NOT IN (SELECT user_id FROM bad))
        |    AS BIGINT) AS n_clean""".stripMargin),

    // §2 25fe sweep-line PEAK CONCURRENCY per (event_type, day):
    // +1/-1 boundary deltas, running sum, max. Intervals clip at the
    // day boundary so every delta lands in its (type, day) partition —
    // that keying is what keeps the sweep scalable: partitions stay
    // bounded (one type-day of deltas) instead of one global ordered
    // scan. Ends sort before starts at the same instant (touching
    // intervals don't count as concurrent) — the delta ASC tie-break
    // encodes that identically in both engines.
    "ev_peak_concurrency" -> QDef(
      (s, dir) => {
        val base = ev(s, dir).select(
          col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          unix_timestamp(col("ts")).as("st"),
          least(unix_timestamp(col("ts")) + 300L,
            (floor(unix_timestamp(col("ts")) / 86400L) + 1L) * 86400L).as("en"))
        val deltas = base.select(col("event_type"), col("day"), col("st").as("t"), lit(1L).as("d"))
          .unionAll(base.select(col("event_type"), col("day"), col("en").as("t"), lit(-1L).as("d")))
        val sweep = Window.partitionBy("event_type", "day").orderBy("t", "d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deltas
          .withColumn("load", sum("d").over(sweep))
          .groupBy("event_type", "day")
          .agg(max("load").as("peak"))
          .orderBy("event_type", "day")
      },
      """WITH base AS (
        |  SELECT event_type,
        |    strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS st,
        |    LEAST(CAST(floor(epoch(ts)) AS BIGINT) + 300,
        |      (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 1) * 86400) AS en
        |  FROM events),
        |deltas AS (
        |  SELECT event_type, day, st AS t, CAST(1 AS BIGINT) AS d FROM base
        |  UNION ALL
        |  SELECT event_type, day, en AS t, CAST(-1 AS BIGINT) AS d FROM base),
        |sweep AS (
        |  SELECT event_type, day,
        |    SUM(d) OVER (PARTITION BY event_type, day ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
        |  FROM deltas)
        |SELECT event_type, day, CAST(MAX(load) AS BIGINT) AS peak
        |FROM sweep GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )
}
