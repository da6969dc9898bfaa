package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Event operators: time-decay multi-touch attribution and
  * burstiness (Fano-factor) profiling.
  */
object EventOps3 {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "events")

  val defs: Map[String, QDef] = Map(

    // §2 25hn exponential time-decay multi-touch attribution: every
    // non-purchase event within 72 h before a purchase by the same user
    // earns weight e^(−Δdays); weights normalize per purchase and the
    // credit rolls up by touch type. The join is per-user (equi-key,
    // bounded by events-per-user, the ev_funnel_negation shape). The
    // logreg determinism recipe applies twice: raw weights AND
    // normalized shares quantize to DECIMAL(26,12) before their sums,
    // so the per-purchase normalizers and corpus totals are exact
    // DECIMAL sums (order-independent), and the 12-dp grid absorbs
    // libm exp()/epoch ulp differences. Timestamps subtract as double
    // SECONDS (micros ÷ 10⁶ on both engines), never unix_timestamp's
    // second-truncation.
    "ev_decay_attribution" -> QDef(
      (s, dir) => {
        def q12(c: Column): Column = round(c, 12).cast("decimal(26,12)")
        val e = ev(s, dir)
        // MULTIPLICITY COLLAPSE first (a copy-quadratic the Z-big sweep
        // caught, at 230 s: the per-user purchase × touch
        // join pays the FULL copy fan, 100×100 pairs per base pair on a
        // duplicated tier, while every copy-pair shares the exact same
        // weight — w depends only on the two timestamps). Events
        // collapse to distinct (user, ts[, touch]) with multiplicities;
        // pair work runs once per DISTINCT pair and the copy mass
        // multiplies back in EXACTLY: n_touches = Σ m_p·m_t (integers),
        // credit = Σ m_p·m_t·q12(w/sw) (an integer times a 12-dp
        // DECIMAL is exact), and the per-purchase normalizer sw =
        // Σ m_t·w is identical for every copy of a purchase, so the
        // original per-copy grouping by p_id collapses losslessly.
        val purchases = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts").as("p_ts"))
          .agg(count(lit(1)).as("m_p"))
        val touches = e.filter(col("event_type") =!= "purchase")
          .groupBy(col("user_id"), col("ts").as("t_ts"),
            col("event_type").as("touch"))
          .agg(count(lit(1)).as("m_t"))
        val pairs = purchases.join(touches, "user_id")
          .filter(col("t_ts") < col("p_ts") &&
            col("t_ts") >= col("p_ts") - expr("INTERVAL 72 HOURS"))
          .withColumn("w", q12(exp(
            (col("t_ts").cast("double") - col("p_ts").cast("double")) / 86400.0)))
        // sw of one purchase COPY = Σ over touch copies = Σ m_t·w. The
        // multiplicities multiply as DECIMAL(10,0): a DECIMAL(26,12) ×
        // BIGINT product would exceed Spark's 38-digit cap and silently
        // TRUNCATE the 12-dp scale (observed as a 1-ulp credit drift at
        // the 4-dp round); 26+10+1 = 37 digits keeps the grid exact.
        def m10(c: Column): Column = c.cast("decimal(10,0)")
        val norm = pairs.groupBy("user_id", "p_ts")
          .agg(sum(col("w") * m10(col("m_t"))).as("sw"))
        pairs.join(norm, Seq("user_id", "p_ts"))
          .select(col("touch"), (col("m_p") * col("m_t")).as("mm"),
            (q12(col("w").cast("double") / col("sw").cast("double"))
              * m10(col("m_p") * col("m_t"))).as("cr"))
          .groupBy("touch")
          .agg(sum("mm").as("n_touches"),
            round(sum(col("cr")).cast("double"), 4).as("credit"))
          .orderBy("touch")
      },
      """WITH purchases AS (
        |  SELECT user_id, event_id AS p_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |touches AS (
        |  SELECT user_id, event_id AS t_id, ts AS t_ts, event_type AS touch
        |  FROM events WHERE event_type <> 'purchase'),
        |pairs AS (
        |  SELECT p_id, touch,
        |    CAST(ROUND(EXP((epoch(t_ts) - epoch(p_ts)) / 86400.0), 12)
        |      AS DECIMAL(26,12)) AS w
        |  FROM purchases JOIN touches USING (user_id)
        |  WHERE t_ts < p_ts AND t_ts >= p_ts - INTERVAL 72 HOUR),
        |norm AS (SELECT p_id, SUM(w) AS sw FROM pairs GROUP BY 1)
        |SELECT touch, COUNT(*) AS n_touches,
        |  ROUND(CAST(SUM(CAST(ROUND(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE), 12)
        |    AS DECIMAL(26,12))) AS DOUBLE), 4) AS credit
        |FROM pairs JOIN norm USING (p_id)
        |GROUP BY touch ORDER BY touch""".stripMargin),

    // §2 25hq stationary distribution of the behavior Markov chain:
    // three unrolled power-iteration steps of π·P from the uniform
    // start, over the SAME per-user transition pairs as
    // ev_transition_matrix. P is |types|²-bounded and each step is a
    // broadcast join + a fold over the ≤|types| incoming terms in
    // source order — identical double sequences on both engines. The
    // chain's row-normalized probabilities are exact-integer ratios.
    "ev_markov_stationary" -> QDef(
      (s, dir) => {
        // Lead re-expressed as SubShard.withPrev (an adjacent pair
        // is (prev_event_type → event_type) on rows with a prev) — the
        // ev_transition_matrix hot-user sub-sharding, micro ticks.
        val base = ev(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_s"), col("event_type"))
        val pairs = SubShard.withPrev(base, Seq("event_type"), tick = 1000000L)
          .filter(col("prev_event_type").isNotNull)
          .groupBy(col("prev_event_type").as("cur"), col("event_type").as("nxt"))
          .agg(count(lit(1)).as("n"))
        val outd = pairs.groupBy("cur").agg(sum("n").as("tot"))
        // |types|²-row transition matrix, referenced by all three steps.
        val pmat = Materialize.cache(pairs.join(broadcast(outd), "cur")
          .select(col("cur"), col("nxt"),
            (col("n") / col("tot").cast("double")).as("p")))
        val k = broadcast(pmat.select(countDistinct("cur").as("k")))
        val pi0 = pmat.select(col("cur").as("state")).distinct()
          .crossJoin(k)
          .select(col("state"), (lit(1.0) / col("k").cast("double")).as("pi"))
        val pi3 = (1 to 3).foldLeft(pi0) { (pi, _) =>
          pmat.join(broadcast(pi), col("cur") === col("state"))
            .groupBy(col("nxt").as("state2"))
            .agg(sort_array(collect_list(struct(col("cur"),
              (col("pi") * col("p")).as("t")))).as("xs"))
            .select(col("state2").as("state"),
              aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("t")).as("pi"))
        }
        pi3.select(col("state").as("event_type"), round(col("pi"), 6).as("pi"))
          .orderBy("event_type")
      },
      """WITH seq AS (
        |  SELECT event_type AS cur,
        |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |pairs AS (
        |  SELECT cur, nxt, COUNT(*) AS n FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |outd AS (SELECT cur, SUM(n) AS tot FROM pairs GROUP BY cur),
        |pmat AS (
        |  SELECT cur, nxt, n / CAST(tot AS DOUBLE) AS p
        |  FROM pairs JOIN outd USING (cur)),
        |kk AS (SELECT COUNT(DISTINCT cur) AS k FROM pmat),
        |pi0 AS (
        |  SELECT DISTINCT cur AS state, 1.0 / CAST(k AS DOUBLE) AS pi
        |  FROM pmat CROSS JOIN kk),
        |pi1 AS (
        |  SELECT nxt AS state,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(pi * p ORDER BY cur)),
        |      (a, b) -> a + b) AS pi
        |  FROM pmat JOIN pi0 ON cur = state GROUP BY nxt),
        |pi2 AS (
        |  SELECT nxt AS state,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(pi * p ORDER BY cur)),
        |      (a, b) -> a + b) AS pi
        |  FROM pmat JOIN pi1 ON cur = state GROUP BY nxt),
        |pi3 AS (
        |  SELECT nxt AS state,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(pi * p ORDER BY cur)),
        |      (a, b) -> a + b) AS pi
        |  FROM pmat JOIN pi2 ON cur = state GROUP BY nxt)
        |SELECT state AS event_type, ROUND(pi, 6) AS pi
        |FROM pi3 ORDER BY event_type""".stripMargin),

    // §2 25hs inter-event gap histogram on an exact log₂ scale:
    // per-user consecutive gaps in whole seconds (integer microsecond
    // difference ÷ 10⁶ by INTEGER division), bucketed by binary-string
    // LENGTH — an engine-exact ⌊log₂⌋+1 that never touches floating
    // log (log2(8) can evaluate 2.999… in one libm and 3.0 in the
    // other, flipping the bucket at every power of two). Per-user
    // windows only; the histogram partial-aggregates to ≤64 rows.
    "ev_gap_histogram" -> QDef(
      (s, dir) => {
        // The lag rides SubShard.withPrev (micro ticks — the
        // original window ordered by the raw microsecond timestamp).
        val base = Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_s"))
        SubShard.withPrev(base, Seq("ts_s"), tick = 1000000L)
          .filter(col("prev_ts_s").isNotNull)
          .select(expr("div(ts_s - prev_ts_s, 1000000)").as("gap_s"))
          .filter(col("gap_s") > 0)
          .select(length(bin(col("gap_s"))).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .select(col("bucket").cast("long").as("log2_bucket"), col("n"))
          .orderBy("log2_bucket")
      },
      """WITH seq AS (
        |  SELECT user_id, ts,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |gaps AS (
        |  SELECT (epoch_us(ts) - epoch_us(prev)) // 1000000 AS gap_s
        |  FROM seq WHERE prev IS NOT NULL),
        |b AS (
        |  SELECT CAST(LENGTH(printf('%b', gap_s)) AS BIGINT) AS log2_bucket
        |  FROM gaps WHERE gap_s > 0)
        |SELECT log2_bucket, COUNT(*) AS n
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2 25ho burstiness profile: the Fano factor (variance-to-mean
    // ratio of daily counts) per event type — Poisson arrivals sit at
    // 1, bursty traffic above. Two integral moments over the
    // calendar×|types|-bounded daily table; the statistic is one
    // fixed-order double expression over exact integers.
    "ev_burstiness" -> QDef(
      (s, dir) => {
        val daily = ev(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("d"))
          .agg(count(lit(1)).as("c"))
        daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"), sum("c").as("sc"),
            sum(col("c") * col("c")).as("sc2"))
          .select(col("event_type"), col("n_days"), col("sc").as("n_events"),
            round((col("n_days") * col("sc2") - col("sc") * col("sc")).cast("double") *
              col("n_days").cast("double") /
              ((col("n_days") * (col("n_days") - 1)).cast("double") *
                col("sc").cast("double")), 6).as("fano"))
          .orderBy("event_type")
      },
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n_days, SUM(c) AS sc, SUM(c * c) AS sc2
        |  FROM daily GROUP BY 1)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(sc AS BIGINT) AS n_events,
        |  ROUND(CAST(n_days * sc2 - sc * sc AS DOUBLE) * CAST(n_days AS DOUBLE)
        |    / (CAST(n_days * (n_days - 1) AS DOUBLE) * CAST(sc AS DOUBLE)), 6) AS fano
        |FROM m ORDER BY event_type""".stripMargin)
  )
}
