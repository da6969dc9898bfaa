package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Probabilistic-filter sketches beyond HLL/KLL: a count-min sketch
  * with the mergeability proof, and an explicit Bloom-filter membership
  * prefilter. Both follow the repo's tolerance-oracle convention
  * (25bz): the DuckDB gate hash-compares the EXACT anchors and the
  * property booleans; the sketch math itself is the operator under
  * test on the Spark side.
  */
object SketchOps2 {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "events")

  /** Count-min sketch shape of `curate_cms_counts` and of its stream
    * twin (graft.streaming.CmsStream): d hash rows × w buckets.
    */
  val CmsDepth = 4
  val CmsWidth = 2048

  /** `df` (with a `user_id` column) once per sketch row `r`, with the
    * bucket `b` its `user_id` hashes to in that row: the probes that
    * build a sketch and that query one.
    */
  def cmsProbes(df: DataFrame): DataFrame =
    df.select(col("*"), explode(array((0 until CmsDepth).map(lit(_)): _*)).as("r"))
      .withColumn("b", pmod(xxhash64(col("user_id"), col("r")), lit(CmsWidth)))

  /** The sketch's cells (r, b, c) from [[cmsProbes]]: one partial-agg
    * shuffle keyed by (row, bucket), with `extra` aggregates beside `c`.
    */
  def cmsCells(probes: DataFrame, extra: Column*): DataFrame =
    probes.groupBy("r", "b").agg(count(lit(1)).as("c"), extra: _*)

  val defs: Map[String, QDef] = Map(

    // §2 25ge count-min sketch per-user event counts: d = 4 hash rows ×
    // w = 2048 buckets — 64 KiB of aggregate state at ANY corpus size
    // (vs the per-key exact count's unbounded key space). The sketch is
    // built in one partial-agg shuffle keyed by (row, bucket); the
    // query side reads the d cells of each probe key from the broadcast
    // table and takes the min. Two properties are gated: the one-sided
    // error (est ≥ exact always; est ≤ exact + 4·N/w — 4× the mean
    // bucket load, far above any realized collision mass at these
    // fixtures) and LINEARITY — the cell-wise sum of two half-month
    // sketches equals the full sketch, the algebra that lets 100 TB of
    // daily sketches merge into monthly ones without rescanning.
    "curate_cms_counts" -> QDef(
      (s, dir) => {
        val e = ev(s, dir).select(col("user_id"),
          (dayofmonth(col("ts")) <= 15).as("h1"))
        val cms = cmsCells(cmsProbes(e),
          sum(when(col("h1"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("h1"), 1L).otherwise(0L)).as("cb"))
        val n = e.agg(count(lit(1)).as("n"))
        val keys = e.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("user_id")).limit(10)
        cmsProbes(keys)
          .join(broadcast(cms), Seq("r", "b"))
          .groupBy("user_id", "exact_cnt")
          .agg(min(col("c")).as("est"),
            // linearity at every probed cell: half + half == full
            min(when(col("ca") + col("cb") === col("c"), 1L).otherwise(0L)).as("lin"))
          .crossJoin(broadcast(n))
          .select(col("user_id"), col("exact_cnt"),
            (col("est") >= col("exact_cnt") &&
              col("est") - col("exact_cnt") <= lit(4.0) * col("n") / CmsWidth).as("within_tol"),
            (col("lin") === 1L).as("merge_ok"))
          .orderBy(col("exact_cnt").desc, col("user_id"))
      },
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt,
        |  true AS within_tol, true AS merge_ok
        |FROM events GROUP BY 1
        |ORDER BY exact_cnt DESC, user_id LIMIT 10""".stripMargin),

    // §2 25gf Bloom-filter membership prefilter (the data-level twin of
    // the 25cp runtime bloom config): a 1024-bit / 2-hash filter over
    // the flagged-user set packed into sixteen 64-bit words by a bit_or
    // aggregate, broadcast, and probed per candidate with two O(1) word
    // lookups. Gates: NO false negatives (the hard Bloom guarantee —
    // every exact member passes), and the false-positive count inside
    // 2× the theoretical (1 − e^(−kn/m))^k envelope computed in-query
    // from the actual set size (+2 slack for the small-fixture floor).
    "q_bloom_filter" -> QDef(
      (s, dir) => {
        val m = 1024; val nwords = m / 64
        val users = ev(s, dir).select(col("user_id")).distinct()
        val flagged = users.filter(col("user_id") % 17 === 3)
        val words = flagged
          .select(col("user_id"), explode(array(lit(0), lit(1))).as("sd"))
          .select((pmod(xxhash64(col("user_id"), col("sd")), lit(m))).as("h"))
          .select(floor(col("h") / 64).as("wd"), (col("h") % 64).as("bit"))
          .groupBy("wd").agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))").as("word"))
        // Probe: for each candidate user and each seed, look the word up
        // in the broadcast filter; a missing word means an unset bit.
        val probes = users
          .select(col("user_id"), explode(array(lit(0), lit(1))).as("sd"))
          .withColumn("h", pmod(xxhash64(col("user_id"), col("sd")), lit(m)))
          .select(col("user_id"), floor(col("h") / 64).as("wd"), (col("h") % 64).as("bit"))
          .join(broadcast(words), Seq("wd"), "left")
          .select(col("user_id"),
            when(col("word").isNotNull &&
              expr("(word & shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))) != 0"), 1L)
              .otherwise(0L).as("hit"))
          .groupBy("user_id").agg((sum(col("hit")) === 2L).as("pass"))
        val verdict = probes
          .withColumn("member", col("user_id") % 17 === 3)
          .agg(
            count(lit(1)).as("n_candidates"),
            sum(when(col("member"), 1L).otherwise(0L)).as("n_members"),
            sum(when(col("member") && !col("pass"), 1L).otherwise(0L)).as("n_fn"),
            sum(when(!col("member") && col("pass"), 1L).otherwise(0L)).as("n_fp"))
        verdict.select(
          col("n_candidates"), col("n_members"),
          (col("n_fn") === 0L).as("no_false_negatives"),
          (col("n_fp") <= lit(2.0) *
            pow(lit(1.0) - exp(lit(-2.0) * col("n_members") / m), 2) *
            (col("n_candidates") - col("n_members")) + lit(2.0)).as("fp_within"))
      },
      """WITH u AS (SELECT DISTINCT user_id FROM events)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN user_id % 17 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
        |  true AS no_false_negatives, true AS fp_within
        |FROM u""".stripMargin),

    // §2 25gg lag-k autocorrelation of the daily revenue series (k =
    // 1..7 — the seasonality screen before any forecasting model):
    // pairs (x_t, x_{t+k}) come from an EQUI-join of the day table to
    // itself on date+k (shuffle keyed by day, cluster-parallel — not a
    // global ordered window), moment sums accumulate as exact DECIMALs
    // per k, and r_k evaluates as one identical double expression (the
    // q_ols_regression determinism recipe).
    "q_autocorr" -> QDef(
      (s, dir) => {
        val daily = Tables(s, dir, "orders")
          .groupBy(col("o_orderdate").as("d"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
        val lagged = daily.select(col("d"), col("x"),
            explode(sequence(lit(1), lit(7))).as("k"))
          .withColumn("d2", col("d") + expr("make_interval(0, 0, 0, k)"))
          .select(col("k"), col("d2"), col("x").as("x1"))
          .join(daily.select(col("d").as("d2"), col("x").as("x2")), Seq("d2"))
        val sums = lagged.groupBy("k").agg(
          count(lit(1)).as("n"),
          sum(col("x1")).as("sx"), sum(col("x2")).as("sy"),
          sum(col("x1") * col("x2")).as("sxy"),
          sum(col("x1") * col("x1")).as("sxx"),
          sum(col("x2") * col("x2")).as("syy"))
        sums.select(col("k"), col("n"),
            col("n").cast("double").as("nd"),
            col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"),
            col("sxy").cast("double").as("sxyd"), col("sxx").cast("double").as("sxxd"),
            col("syy").cast("double").as("syyd"))
          .select(col("k").cast("long").as("k"), col("n"),
            round((col("nd") * col("sxyd") - col("sxd") * col("syd")) /
              (sqrt(col("nd") * col("sxxd") - col("sxd") * col("sxd")) *
                sqrt(col("nd") * col("syyd") - col("syd") * col("syd"))), 6).as("r"))
          .orderBy("k")
      },
      """WITH daily AS (
        |  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        |  FROM orders GROUP BY 1),
        |lagged AS (
        |  SELECT k, a.x AS x1, b.x AS x2
        |  FROM daily a, UNNEST(range(1, 8)) AS u(k)
        |  JOIN daily b ON b.d = a.d + to_days(CAST(k AS INT))),
        |s AS (
        |  SELECT k, COUNT(*) AS n, SUM(x1) AS sx, SUM(x2) AS sy,
        |    SUM(x1 * x2) AS sxy, SUM(x1 * x1) AS sxx, SUM(x2 * x2) AS syy
        |  FROM lagged GROUP BY 1),
        |d AS (
        |  SELECT k, n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
        |  FROM s)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  ROUND((nd * sxyd - sxd * syd) /
        |        (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)), 6) AS r
        |FROM d ORDER BY k""".stripMargin)
  )
}
