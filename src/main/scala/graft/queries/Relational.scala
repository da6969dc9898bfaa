package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Relational SQL surface of the reference engine, re-expressed with the
  * DataFrame API (Catalyst-optimized: pushdown, pruning, broadcast joins).
  *
  * Semantics mirror the reference's OLAP test suite
  * (reference: adaptors/clojure/test/bq_runner/olap_test.clj) — window
  * functions, CTEs, aggregations, joins, subqueries, CASE, date/string/
  * regexp functions, percentiles, cohort analysis — run against the
  * TPC-H-ish test tables.
  *
  * Every output is deterministically ordered and every computed column is
  * explicitly cast/rounded so the DuckDB oracle hash-matches bit-for-bit.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val defs: Map[String, QDef] = Map(

    // §2.1#1 GROUP BY + multi-aggregation (olap_test.clj test-group-by-aggregations)
    "q_agg_groupby" -> QDef(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(avg("l_extendedprice"), 2).as("avg_price"),
            count(lit(1)).as("cnt"))
          .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(AVG(l_extendedprice), 2) AS avg_price,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // §2.1#2 TPC-H Q1 pricing summary (headline bench query)
    "q1_pricing_summary" -> QDef(
      (s, dir) => {
        // Exact DECIMAL money arithmetic (the q_tpch_q9 recipe, applied
        // suite-wide after the sf1 sweep flipped 1-cent rounding
        // ties in double sums): TPC-H money IS decimal by spec, decimal
        // sums are order-independent at any corpus size, and the avgs
        // become ONE fixed-operand-order double division each.
        val qty = col("l_quantity").cast("decimal(12,2)")
        val price = col("l_extendedprice").cast("decimal(12,2)")
        val disc = col("l_discount").cast("decimal(12,2)")
        val tax = col("l_tax").cast("decimal(12,2)")
        val one = lit(BigDecimal("1.00"))
        t(s, dir, "lineitem")
          .filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum(qty), 2).cast("double").as("sum_qty"),
            round(sum(price), 2).cast("double").as("sum_base_price"),
            round(sum(price * (one - disc)), 2).cast("double").as("sum_disc_price"),
            round(sum(price * (one - disc) * (one + tax)), 2).cast("double").as("sum_charge"),
            round(sum(qty).cast("double") / count(lit(1)), 2).as("avg_qty"),
            round(sum(price).cast("double") / count(lit(1)), 2).as("avg_price"),
            round(sum(disc).cast("double") / count(lit(1)), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST('1.00' AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_charge,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 2) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 2) AS avg_price,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // §2.1#3 HAVING (olap_test.clj test-having-clause)
    "q_having" -> QDef(
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("order_cnt"), round(sum("o_totalprice"), 2).as("total_spent"))
          .filter(col("order_cnt") >= 5)
          .orderBy("o_custkey"),
      """SELECT o_custkey, COUNT(*) AS order_cnt, ROUND(SUM(o_totalprice), 2) AS total_spent
        |FROM orders GROUP BY 1 HAVING COUNT(*) >= 5 ORDER BY 1""".stripMargin),

    // §2.1#4 ROW_NUMBER (olap_test.clj test-row-number)
    "q_window_row_number" -> QDef(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
          .orderBy("o_custkey", "rn")
      },
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) sub
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    // §2.1#5 RANK / DENSE_RANK (olap_test.clj test-rank-dense-rank)
    "q_window_rank" -> QDef(
      (s, dir) => {
        val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc)
        t(s, dir, "customer")
          .select(
            col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            rank().over(w).cast("long").as("rnk"),
            dense_rank().over(w).cast("long").as("drnk"))
          .filter(col("rnk") <= 10)
          .orderBy("c_mktsegment", "rnk", "c_custkey")
      },
      """SELECT * FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    CAST(RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS BIGINT) AS rnk,
        |    CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS BIGINT) AS drnk
        |  FROM customer) sub
        |WHERE rnk <= 10 ORDER BY c_mktsegment, rnk, c_custkey""".stripMargin),

    // §2.1#6 LEAD / LAG (olap_test.clj test-lead-lag)
    "q_window_lead_lag" -> QDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .select(
            col("user_id"), col("event_id"), col("value"),
            lag("value", 1).over(w).as("prev_value"),
            lead("value", 1).over(w).as("next_value"))
          .orderBy("user_id", "event_id")
      },
      """SELECT user_id, event_id, value,
        |  LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        |  LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
        |FROM events ORDER BY user_id, event_id""".stripMargin),

    // §2.1#7 running totals (olap_test.clj test-running-totals)
    "q_window_running_sum" -> QDef(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"),
            round(sum("o_totalprice").over(w), 2).as("running_total"))
          .orderBy("o_custkey", "o_orderkey")
      },
      """SELECT o_custkey, o_orderkey,
        |  ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // §2.1#8 NTILE (olap_test.clj test-ntile)
    // A bare `NTILE(k) OVER (ORDER BY …)` plans as a single-partition
    // window — the whole table on one executor. Exact distributed NTILE
    // instead, entirely in Catalyst (no RDD detour, stays in Tungsten
    // codegen): range-partition on the sort key so order holds ACROSS
    // partitions, rank within each partition in parallel, then shift by
    // broadcast per-partition offsets; NTILE's group sizes (n/k rows,
    // first n%k groups one extra) come from the global rank
    // arithmetically. Same rows at any scale, no single-partition stage
    // over the data (the offsets window runs over #partitions rows).
    "q_window_ntile" -> QDef(
      (s, dir) => {
        val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        val k = 4L
        val parts = math.max(2, s.sparkContext.defaultParallelism / 4)
        // cache: pid comes from the physical range exchange, so the
        // ranks and the offsets must read the SAME materialization.
        val local = Materialize.cache(base
          .repartitionByRange(parts, col("o_totalprice"), col("o_orderkey"))
          .withColumn("pid", spark_partition_id())
          .withColumn("lrank", row_number().over(
            Window.partitionBy("pid").orderBy("o_totalprice", "o_orderkey"))))
        val n = local.count()
        val bsz = n / k
        val rem = n % k
        val offsets = local.groupBy("pid").agg(count(lit(1)).as("cnt"))
          .withColumn("offset", coalesce(
            sum("cnt").over(Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select("pid", "offset")
        local.join(broadcast(offsets), "pid")
          .withColumn("idx", col("offset") + col("lrank") - 1)
          // idx < rem*(bsz+1) ⇒ one of the first rem (larger) groups;
          // when n < k, rem = n and every idx takes that branch, so the
          // bsz=0 division below is never evaluated for any row.
          .withColumn("quartile",
            when(col("idx") < lit(rem * (bsz + 1)), expr(s"idx DIV ${bsz + 1}"))
              .otherwise(lit(rem) + expr(s"(idx - ${rem * (bsz + 1)}) DIV ${math.max(bsz, 1L)}"))
              + lit(1L))
          .select(col("o_orderkey"), col("quartile"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey,
        |  CAST(NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // §2.1#9 chained CTEs (olap_test.clj test-chained-ctes)
    "q_cte_chain" -> QDef(
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders")
        // The rnk <= 20 filter lets the global RANK window run on a
        // pre-filtered candidate set: the 20th-largest total (computed as
        // a TakeOrdered + scalar MIN, fully distributed) bounds the rows
        // that can possibly rank ≤ 20 (including total-ties, which the
        // o_custkey tiebreak then orders). The single-partition window
        // stage therefore sees ~20 rows at ANY input scale instead of
        // every customer. Same result as ranking customer_totals whole:
        // a row's rank only depends on the rows above it, all retained.
        s.sql(
          """WITH customer_totals AS (
            |  SELECT o_custkey, SUM(o_totalprice) AS total FROM orders GROUP BY o_custkey
            |), top20 AS (
            |  SELECT total FROM customer_totals ORDER BY total DESC LIMIT 20
            |), candidates AS (
            |  SELECT * FROM customer_totals WHERE total >= (SELECT MIN(total) FROM top20)
            |), ranked AS (
            |  SELECT o_custkey, ROUND(total, 2) AS total,
            |    CAST(RANK() OVER (ORDER BY total DESC, o_custkey) AS BIGINT) AS rnk
            |  FROM candidates
            |)
            |SELECT o_custkey, total, rnk FROM ranked WHERE rnk <= 20 ORDER BY rnk, o_custkey""".stripMargin)
      },
      """WITH customer_totals AS (
        |  SELECT o_custkey, SUM(o_totalprice) AS total FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT o_custkey, ROUND(total, 2) AS total,
        |    CAST(RANK() OVER (ORDER BY total DESC, o_custkey) AS BIGINT) AS rnk
        |  FROM customer_totals
        |)
        |SELECT o_custkey, total, rnk FROM ranked WHERE rnk <= 20 ORDER BY rnk, o_custkey""".stripMargin),

    // §2.1#10 multi JOIN inner + left (olap_test.clj test-multiple-joins)
    "q_join_multi" -> QDef(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val nat = t(s, dir, "nation")
        val ord = t(s, dir, "orders")
        cust
          .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
          .join(ord, cust("c_custkey") === ord("o_custkey"), "left")
          .select(col("c_custkey"), col("n_name"), col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("c_custkey"), col("o_orderkey"))
      },
      """SELECT c_custkey, n_name, o_orderkey, o_totalprice
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin),

    // §2.1#11 CROSS JOIN (olap_test.clj test-cross-join)
    "q_cross_join" -> QDef(
      (s, dir) =>
        t(s, dir, "region").crossJoin(t(s, dir, "nation"))
          .select(col("r_name"), col("n_name"))
          .orderBy("r_name", "n_name"),
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY 1, 2"),

    // §2.1#12 scalar subquery (olap_test.clj test-scalar-subquery)
    "q_subquery_scalar" -> QDef(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val avgBal = cust.agg(avg("c_acctbal").as("ab"))
        cust.crossJoin(broadcast(avgBal))
          .select(col("c_custkey"), round(col("c_acctbal") - col("ab"), 2).as("diff_from_avg"))
          .orderBy("c_custkey")
      },
      """SELECT c_custkey,
        |  ROUND(c_acctbal - (SELECT AVG(c_acctbal) FROM customer), 2) AS diff_from_avg
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // §2.1#13 correlated EXISTS → left-semi join (olap_test.clj test-correlated-subquery)
    "q_exists_correlated" -> QDef(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val big = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
        cust.join(big, cust("c_custkey") === big("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
        |ORDER BY c_custkey""".stripMargin),

    // §2.1#14 CASE WHEN (olap_test.clj test-case-when)
    "q_case_when" -> QDef(
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            when(col("p_size") < 10, "small")
              .when(col("p_size") < 25, "medium")
              .otherwise("large").as("size_class"))
          .orderBy("p_partkey"),
      """SELECT p_partkey,
        |  CASE WHEN p_size < 10 THEN 'small'
        |       WHEN p_size < 25 THEN 'medium'
        |       ELSE 'large' END AS size_class
        |FROM part ORDER BY p_partkey""".stripMargin),

    // §2.1#15 EXTRACT year/month/day (olap_test.clj test-date-functions)
    "q_date_extract" -> QDef(
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mo"),
            dayofmonth(col("o_orderdate")).cast("long").as("dy"))
          .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
        |  CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS dy
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // §2.1#16 date arithmetic (olap_test.clj test-date-arithmetic)
    "q_date_add" -> QDef(
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(
            col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            date_format(date_add(to_date(col("l_shipdate")), 10), "yyyy-MM-dd").as("ship_plus_10"))
          .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  strftime(CAST(l_shipdate AS DATE) + INTERVAL 10 DAY, '%Y-%m-%d') AS ship_plus_10
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // §2.1#17 string functions (olap_test.clj test-string-functions)
    "q_string_funcs" -> QDef(
      (s, dir) =>
        t(s, dir, "customer")
          .select(
            col("c_custkey"),
            upper(col("c_name")).as("upper_name"),
            lower(col("c_mktsegment")).as("lower_seg"),
            concat(col("c_name"), lit("-"), col("c_mktsegment")).as("concat_str"),
            length(col("c_name")).cast("long").as("name_len"))
          .orderBy("c_custkey"),
      """SELECT c_custkey, UPPER(c_name) AS upper_name, LOWER(c_mktsegment) AS lower_seg,
        |  c_name || '-' || c_mktsegment AS concat_str,
        |  CAST(LENGTH(c_name) AS BIGINT) AS name_len
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // §2.1#18 regexp (olap_test.clj test-regexp-functions)
    "q_regexp" -> QDef(
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            col("p_name").rlike("(red|green)").as("has_color"),
            regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"))
          .orderBy("p_partkey"),
      """SELECT p_partkey,
        |  regexp_matches(p_name, '(red|green)') AS has_color,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word
        |FROM part ORDER BY p_partkey""".stripMargin),

    // §2.1#19 percentiles (olap_test.clj test-percentile). Exact linear-
    // interpolation quantiles via sort + row_number: Spark's percentile()
    // aggregate builds a per-value hash map, which degenerates on
    // continuous doubles; ranking the sorted group costs one shuffle-sort
    // and scales.
    "q_percentile" -> QDef(
      (s, dir) => {
        // PERCENTILE_CONT(p) = lo + frac·(hi − lo) over the two EXACT
        // order statistics at ranks ⌊p(n−1)⌋+1 and ⌊p(n−1)⌋+2 — the
        // interpolation is ONE fixed-order double expression the oracle
        // mirrors token-for-token, so the result is engine-exact at
        // every SF (the builtin `percentile` aggregate's internal
        // arithmetic differed from quantile_cont by ulps, which flipped
        // a 2-dp rounding boundary at sf0.001). Rank extraction is the
        // per-group bucket-offset composition: per-flag min/max, 32
        // fixed-width buckets, broadcast prefix offsets, row_number per
        // (flag, bucket) — no window ever sees more than a bucket, so
        // parallelism is 3×32 reducers, not 3.
        import org.apache.spark.sql.expressions.Window
        val nb = 32
        val li = t(s, dir, "lineitem").select(
          col("l_returnflag").as("flag"),
          col("l_extendedprice").as("v"),
          col("l_orderkey"), col("l_linenumber"))
        val mm = li.groupBy("flag").agg(
          min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
        val bucketed = li.join(broadcast(mm.select("flag", "lo", "hi")), "flag")
          .withColumn("b", least(lit(nb - 1),
            floor((col("v") - col("lo")) / ((col("hi") - col("lo") + 0.001) / nb))
              .cast("int")))
        val offs = bucketed.groupBy("flag", "b").agg(count(lit(1)).as("bn"))
          .withColumn("off_n", coalesce(sum("bn").over(
            Window.partitionBy("flag").orderBy("b")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("flag", "b", "off_n")
        val ranked = bucketed.join(broadcast(offs), Seq("flag", "b"))
          .withColumn("i", col("off_n") + row_number().over(
            Window.partitionBy("flag", "b")
              .orderBy(col("v"), col("l_orderkey"), col("l_linenumber"))))
          .select("flag", "v", "i")
        // 3 flags × 2 quantiles → 6 target rows: neighbor ranks + the
        // fractional weight, every double op in the same order as the
        // oracle's CTE (p·(n−1), FLOOR, subtract).
        // `targets` shares lineage with `ranked` (both descend from li),
        // so the join key must be RENAMED — an unaliased flag === flag
        // resolves both sides to the same attribute and degenerates to a
        // trivially-true cross join.
        val targets = mm.select(col("flag").as("tflag"), col("n"),
            explode(array(lit(0.5), lit(0.95))).as("p"))
          .withColumn("h", col("p") * (col("n") - 1).cast("double"))
          .withColumn("kf", (floor(col("h")) + 1).cast("long"))
          .withColumn("kc", least(col("kf") + 1, col("n")))
          .withColumn("frac", col("h") - floor(col("h")))
          .select("tflag", "p", "kf", "kc", "frac")
        ranked.join(broadcast(targets),
            col("flag") === col("tflag") &&
              (col("i") === col("kf") || col("i") === col("kc")))
          .groupBy(col("flag").as("l_returnflag"), col("p"), col("frac"))
          .agg(max(when(col("i") === col("kf"), col("v"))).as("lov"),
            max(when(col("i") === col("kc"), col("v"))).as("hiv"))
          .groupBy("l_returnflag")
          // The 2-dp rounding is ALSO written as explicit identical IEEE
          // ops (⌊x·100 + 0.5⌋ / 100): an interpolated value can land
          // within an ulp of a half-cent boundary, where Spark's
          // BigDecimal-based round and DuckDB's multiply-first ROUND
          // disagree by one cent.
          .agg(
            (floor(max(when(col("p") === 0.5,
              col("lov") + col("frac") * (col("hiv") - col("lov")))) * 100 + 0.5)
              / 100.0).as("p50"),
            (floor(max(when(col("p") === 0.95,
              col("lov") + col("frac") * (col("hiv") - col("lov")))) * 100 + 0.5)
              / 100.0).as("p95"))
          .orderBy("l_returnflag")
      },
      """WITH li AS (
        |  SELECT l_returnflag AS flag, l_extendedprice AS v FROM lineitem),
        |cnt AS (SELECT flag, COUNT(*) AS n FROM li GROUP BY flag),
        |ranked AS (
        |  SELECT flag, v, ROW_NUMBER() OVER (PARTITION BY flag ORDER BY v) AS i
        |  FROM li),
        |t AS (
        |  SELECT flag, n, p,
        |    CAST(FLOOR(p * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 AS kf,
        |    LEAST(CAST(FLOOR(p * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 2, n) AS kc,
        |    p * CAST(n - 1 AS DOUBLE) - FLOOR(p * CAST(n - 1 AS DOUBLE)) AS frac
        |  FROM cnt CROSS JOIN (SELECT UNNEST([0.5, 0.95]) AS p)),
        |pick AS (
        |  SELECT t.flag, t.p, t.frac,
        |    MAX(CASE WHEN i = kf THEN v END) AS lov,
        |    MAX(CASE WHEN i = kc THEN v END) AS hiv
        |  FROM t JOIN ranked ON ranked.flag = t.flag AND (i = kf OR i = kc)
        |  GROUP BY 1, 2, 3)
        |SELECT flag AS l_returnflag,
        |  FLOOR(MAX(CASE WHEN p = 0.5  THEN lov + frac * (hiv - lov) END) * 100 + 0.5)
        |    / 100.0 AS p50,
        |  FLOOR(MAX(CASE WHEN p = 0.95 THEN lov + frac * (hiv - lov) END) * 100 + 0.5)
        |    / 100.0 AS p95
        |FROM pick GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2.1#20 cohort analysis + COUNT(DISTINCT) (olap_test.clj test-cohort-analysis)
    "q_cohort" -> QDef(
      (s, dir) => {
        t(s, dir, "events").createOrReplaceTempView("events")
        s.sql(
          """WITH signups AS (
            |  SELECT user_id, MIN(CAST(ts AS DATE)) AS signup_date
            |  FROM events WHERE event_type = 'signup' GROUP BY user_id
            |), purchasers AS (
            |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            |)
            |SELECT date_format(s.signup_date, 'yyyy-MM-dd') AS signup_date,
            |  COUNT(DISTINCT s.user_id) AS total_signups,
            |  COUNT(DISTINCT p.user_id) AS converted
            |FROM signups s LEFT JOIN purchasers p ON s.user_id = p.user_id
            |GROUP BY s.signup_date ORDER BY 1""".stripMargin)
      },
      """WITH signups AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS signup_date
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id
        |), purchasers AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |)
        |SELECT strftime(s.signup_date, '%Y-%m-%d') AS signup_date,
        |  COUNT(DISTINCT s.user_id) AS total_signups,
        |  COUNT(DISTINCT p.user_id) AS converted
        |FROM signups s LEFT JOIN purchasers p ON s.user_id = p.user_id
        |GROUP BY s.signup_date ORDER BY 1""".stripMargin),

    // §2.1#21 UNION ALL
    "q_union_all" -> QDef(
      (s, dir) =>
        t(s, dir, "customer").select(col("c_custkey").as("id"), lit("customer").as("kind"))
          .unionAll(t(s, dir, "supplier").select(col("s_suppkey").as("id"), lit("supplier").as("kind")))
          .orderBy("kind", "id"),
      """SELECT c_custkey AS id, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, 'supplier' AS kind FROM supplier
        |ORDER BY kind, id""".stripMargin),

    // §2.1#22 top-k
    "q_topk" -> QDef(
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // §2.1#23 TPC-H Q3 shipping priority (headline bench query)
    "q_tpch_q3" -> QDef(
      (s, dir) => {
        val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord = t(s, dir, "orders").filter(to_date(col("o_orderdate")) < lit("1998-06-15"))
        val li = t(s, dir, "lineitem").filter(to_date(col("l_shipdate")) > lit("1998-06-15"))
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          // Exact DECIMAL revenue ([[Money]]): order-independent sums,
          // tie-free cent rounding at any scale.
          .agg(Money.revenueSum2.as("revenue"))
          .select(
            col("l_orderkey"), col("revenue"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
            col("o_orderpriority"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      s"""SELECT l_orderkey,
        |  ${Money.revenueSumSql2} AS revenue,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-06-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // §2.1#24 5-way star join (Q5-ish revenue rollup)
    "q_star_join" -> QDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer")
        val nat = t(s, dir, "nation")
        val reg = t(s, dir, "region")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(cust, ord("o_custkey") === cust("c_custkey"))
          .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
          .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
          .groupBy("r_name", "n_name")
          // Exact DECIMAL revenue (q_tpch_q9 recipe): the double sum
          // flipped a 1-cent rounding tie at sf1.
          .agg(
            round(sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(BigDecimal("1.00")) - col("l_discount").cast("decimal(12,2)"))), 2)
              .cast("double").as("revenue"),
            count(lit(1)).as("line_cnt"))
          .orderBy("r_name", "n_name")
      },
      """SELECT r_name, n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS line_cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // §2.1#25 UNNEST / array explode (olap_test.clj test-unnest-*)
    "q_unnest" -> QDef(
      (s, dir) =>
        t(s, dir, "embeddings")
          .filter(col("vec_id") < 20)
          .select(col("vec_id"), posexplode(col("embedding")))
          .select(
            col("vec_id"),
            col("pos").cast("long").as("pos"),
            round(col("col").cast("double"), 4).as("val"))
          .orderBy("vec_id", "pos"),
      """SELECT e.vec_id, CAST(gs.i AS BIGINT) AS pos,
        |  ROUND(CAST(e.embedding[gs.i + 1] AS DOUBLE), 4) AS val
        |FROM embeddings e
        |CROSS JOIN generate_series(0, 63) AS gs(i)
        |WHERE e.vec_id < 20 AND gs.i < len(e.embedding)
        |ORDER BY 1, 2""".stripMargin),

    // JSON extraction from string props (BigQuery JSON_VALUE-style)
    "q_json_extract" -> QDef(
      (s, dir) =>
        t(s, dir, "events")
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id"),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin)
  )
}
