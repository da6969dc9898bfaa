package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.engine.SessionManager

/** Round-3 relational additions: BigQuery-dialect scalar coverage through
  * the SQL surface, aggregate variants (COUNTIF/BOOL/BIT/ARRAY_AGG),
  * calendar gap-fill, MERGE-style upsert, ratio-to-report windows, and
  * TPC-H Q5/Q7 join shapes.
  *
  * Everything is oracle-checked against DuckDB (identical column names,
  * deterministic ORDER BY, rounded floats), per SURVEY §5.
  */
object Relational4 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Run BigQuery SQL over `tables` the way the server does: in a new
    * engine session, which holds the dialect in its own registry, so the
    * shared session keeps Spark semantics for the keys that run after.
    */
  private def bqSql(s: SparkSession, dir: String, tables: String*)(sql: String): DataFrame = {
    val gs = new SessionManager(s).create()
    tables.foreach(n => t(gs.spark, dir, n).createOrReplaceTempView(n))
    gs.sql(sql)
  }

  val defs: Map[String, QDef] = Map(

    // BigQuery dialect scalars end-to-end THROUGH SQL (not the DataFrame
    // DSL): DATE_DIFF WEEK/QUARTER/MONTH, TIMESTAMP_DIFF HOUR,
    // SAFE_DIVIDE, FORMAT_DATE — the round-3 unit-handling fixes under
    // oracle verification. The DuckDB side spells the same semantics with
    // portable arithmetic (BigQuery WEEK = Sunday-start boundary count).
    "q_bq_datetime" -> QDef(
      (s, dir) =>
        bqSql(s, dir, "orders")(
          """SELECT o_orderkey,
            |  DATE_DIFF(CAST(o_orderdate AS DATE), DATE '1995-06-15', 'WEEK') AS wk,
            |  DATE_DIFF(CAST(o_orderdate AS DATE), DATE '1995-06-15', 'QUARTER') AS qtr,
            |  DATE_DIFF(CAST(o_orderdate AS DATE), DATE '1995-06-15', 'MONTH') AS mon,
            |  TIMESTAMP_DIFF(o_orderdate, TIMESTAMP '1995-06-15 00:00:00', 'HOUR') AS hrs,
            |  ROUND(SAFE_DIVIDE(o_totalprice * 4.0, CAST(o_orderkey % 3 AS DOUBLE)), 2) AS sdiv,
            |  FORMAT_DATE('%Y-%m-%d', CAST(o_orderdate AS DATE)) AS od
            |FROM orders ORDER BY o_orderkey""".stripMargin),
      """SELECT o_orderkey,
        |  ((CAST(o_orderdate AS DATE) - DATE '1970-01-01' + 4) // 7)
        |    - ((DATE '1995-06-15' - DATE '1970-01-01' + 4) // 7) AS wk,
        |  (year(o_orderdate) * 4 + quarter(o_orderdate)) - (1995 * 4 + 2) AS qtr,
        |  (year(o_orderdate) * 12 + month(o_orderdate)) - (1995 * 12 + 6) AS mon,
        |  CAST(trunc((epoch(o_orderdate) - epoch(TIMESTAMP '1995-06-15 00:00:00')) / 3600.0) AS BIGINT) AS hrs,
        |  ROUND(CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |             ELSE (o_totalprice * 4.0) / (o_orderkey % 3) END, 2) AS sdiv,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS od
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Conditional & boolean & bitwise aggregates (BigQuery COUNTIF /
    // LOGICAL_AND / LOGICAL_OR; BIT_AND / BIT_OR / BIT_XOR) — all native
    // mergeable aggregates with map-side partials.
    "q_countif_bool" -> QDef(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count_if(col("l_quantity") > 25).as("cnt_bigqty"),
            bool_and(col("l_discount") <= 0.1).as("all_small_disc"),
            bool_or(col("l_tax") > 0.07).as("any_big_tax"),
            bit_and(col("l_orderkey")).as("key_band"),
            bit_or(col("l_orderkey")).as("key_bor"),
            bit_xor(col("l_orderkey")).as("key_bxor"))
          .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_quantity > 25) AS cnt_bigqty,
        |  bool_and(l_discount <= 0.1) AS all_small_disc,
        |  bool_or(l_tax > 0.07) AS any_big_tax,
        |  bit_and(l_orderkey) AS key_band,
        |  bit_or(l_orderkey) AS key_bor,
        |  bit_xor(l_orderkey) AS key_bxor
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // ARRAY_AGG with an aggregate-level filter and deterministic order:
    // collect_list skips the NULLs the WHEN produces, array_sort fixes
    // the (shuffle-dependent) arrival order, array_join flattens for a
    // type-stable compare.
    "q_array_agg" -> QDef(
      (s, dir) =>
        t(s, dir, "customer")
          .groupBy("c_mktsegment")
          .agg(
            array_join(
              array_sort(collect_list(when(col("c_acctbal") > 9000, col("c_custkey")))),
              ",").as("rich_custs"),
            count_if(col("c_acctbal") > 9000).as("n_rich"))
          .orderBy("c_mktsegment"),
      """SELECT c_mktsegment,
        |  array_to_string(list_sort(list(c_custkey) FILTER (WHERE c_acctbal > 9000)), ',') AS rich_custs,
        |  COUNT(*) FILTER (WHERE c_acctbal > 9000) AS n_rich
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin),

    // Calendar gap-fill (date spine): generate the full min..max day range
    // from a one-row aggregate (sequence+explode — never a driver-side
    // loop), then left-join daily counts so zero-order days appear.
    "q_date_spine" -> QDef(
      (s, dir) => {
        val days = t(s, dir, "orders").select(to_date(col("o_orderdate")).as("d"))
        val spine = days.agg(min("d").as("lo"), max("d").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
        val daily = days.groupBy("d").agg(count(lit(1)).as("n_orders"))
        spine.join(daily, spine("day") === daily("d"), "left")
          .select(
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
          .orderBy("day")
      },
      """WITH b AS (SELECT min(CAST(o_orderdate AS DATE)) AS lo, max(CAST(o_orderdate AS DATE)) AS hi FROM orders),
        |spine AS (SELECT CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |daily AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n FROM orders GROUP BY 1)
        |SELECT strftime(spine.day, '%Y-%m-%d') AS day,
        |  CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_orders
        |FROM spine LEFT JOIN daily ON spine.day = daily.d ORDER BY 1""".stripMargin),

    // MERGE-style upsert as a batch plan: FULL OUTER join of the target
    // (customer) with an update set (per-customer order totals, plus
    // synthetic new keys to exercise the INSERT branch), COALESCE repair
    // per MERGE WHEN MATCHED / NOT MATCHED BY TARGET / BY SOURCE.
    "q_merge_upsert" -> QDef(
      (s, dir) => {
        val base = t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val totals = t(s, dir, "orders").groupBy("o_custkey")
          .agg(sum("o_totalprice").as("total"))
        val updates = totals.select(col("o_custkey").as("u_key"), col("total"))
          .unionByName(
            totals.filter(col("o_custkey") % 50 === 0)
              .select((col("o_custkey") + 1000000L).as("u_key"), col("total")))
        base.join(updates, base("c_custkey") === updates("u_key"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("u_key")).as("c_custkey"),
            coalesce(col("c_name"), lit("NEW")).as("c_name"),
            round(coalesce(col("c_acctbal"), lit(0.0)) + coalesce(col("total"), lit(0.0)), 2).as("new_bal"),
            when(col("c_custkey").isNull, "insert")
              .when(col("u_key").isNull, "keep")
              .otherwise("update").as("action"))
          .orderBy("c_custkey")
      },
      """WITH totals AS (SELECT o_custkey, SUM(o_totalprice) AS total FROM orders GROUP BY 1),
        |updates AS (
        |  SELECT o_custkey AS u_key, total FROM totals
        |  UNION ALL
        |  SELECT o_custkey + 1000000, total FROM totals WHERE o_custkey % 50 = 0)
        |SELECT COALESCE(b.c_custkey, u.u_key) AS c_custkey,
        |  COALESCE(b.c_name, 'NEW') AS c_name,
        |  ROUND(COALESCE(b.c_acctbal, 0) + COALESCE(u.total, 0), 2) AS new_bal,
        |  CASE WHEN b.c_custkey IS NULL THEN 'insert'
        |       WHEN u.u_key IS NULL THEN 'keep'
        |       ELSE 'update' END AS action
        |FROM customer b FULL OUTER JOIN updates u ON b.c_custkey = u.u_key
        |ORDER BY c_custkey""".stripMargin),

    // RATIO_TO_REPORT: share of the partition total — a window aggregate
    // over an unbounded frame (partial aggregation inside the window).
    "q_window_ratio" -> QDef(
      (s, dir) => {
        // The group total sums as DECIMAL(18,2): double summation is
        // order-dependent (Spark's partial aggs vs DuckDB's sequential
        // scan disagree in the last bits at sf0.1's group sizes, which
        // flips the ratio's 6th decimal), while decimal addition is
        // exact and associative — both engines then divide identical
        // operands and round identical doubles. c_acctbal carries 2
        // fractional digits by TPC-H construction, so the cast is
        // lossless. The trailing + 0.0 canonicalizes IEEE signed zero:
        // DuckDB's ROUND returns -0.0 for tiny negative shares where
        // Spark returns +0.0, and the value comparator renders them as
        // different strings ('-0.000000' vs '0.000000').
        val w = Window.partitionBy("c_mktsegment")
        t(s, dir, "customer")
          .select(
            col("c_custkey"), col("c_mktsegment"),
            (round(col("c_acctbal") /
              sum(col("c_acctbal").cast("decimal(18,2)")).over(w).cast("double"), 6)
              + lit(0.0)).as("bal_share"))
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, c_mktsegment,
        |  ROUND(c_acctbal / CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
        |    OVER (PARTITION BY c_mktsegment) AS DOUBLE), 6) + 0.0 AS bal_share
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // TPC-H Q5: local-supplier volume — the classic 6-way snowflake with
    // the extra c_nationkey = s_nationkey reduction; dims broadcast, facts
    // shuffle on their join keys once.
    "q_tpch_q5" -> QDef(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
          .filter(to_date(col("o_orderdate")) >= lit("1996-01-01") &&
            to_date(col("o_orderdate")) < lit("1997-01-01"))
        val li = t(s, dir, "lineitem")
        val supp = t(s, dir, "supplier")
        val nat = t(s, dir, "nation")
        val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(cust, ord("o_custkey") === cust("c_custkey"))
          .join(broadcast(supp),
            li("l_suppkey") === supp("s_suppkey") && cust("c_nationkey") === supp("s_nationkey"))
          .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
          .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
          .groupBy("n_name")
          // Exact DECIMAL revenue (the q_tpch_q9 recipe): the double
          // formulation's sum order flipped a 1-cent rounding tie at
          // sf1 (first seen in the r9 scale sweep) — decimal terms sum
          // exactly at any corpus size and partitioning.
          .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(BigDecimal("1.00")) - col("l_discount").cast("decimal(12,2)"))), 2)
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      """SELECT n_name, CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin),

    // TPC-H Q7: volume shipping between two nations — self-joined nation
    // dim under an OR-of-ANDs pair predicate, yearly rollup.
    "q_tpch_q7" -> QDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer")
        val supp = t(s, dir, "supplier")
        val n1 = t(s, dir, "nation").select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
        val n2 = t(s, dir, "nation").select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(cust, ord("o_custkey") === cust("c_custkey"))
          .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
          .join(broadcast(n1), supp("s_nationkey") === col("n1_key"))
          .join(broadcast(n2), cust("c_nationkey") === col("n2_key"))
          .filter(
            (col("supp_nation") === "NATION_20" && col("cust_nation") === "NATION_11") ||
              (col("supp_nation") === "NATION_11" && col("cust_nation") === "NATION_20"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(Money.revenueSum2.as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        |  ${Money.revenueSumSql2} AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
        |   OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // BigQuery string/array dialect surface: literal-delimiter SPLIT,
    // STRPOS, ENDS_WITH/STARTS_WITH, NULL-on-no-match REGEXP_EXTRACT,
    // ARRAY_REVERSE + ARRAY_LENGTH — all resolved to native codegen'd
    // Catalyst expressions by BQCompat.
    "q_bq_strings" -> QDef(
      (s, dir) =>
        bqSql(s, dir, "part")(
          """SELECT p_partkey,
            |  SPLIT(p_name, ' ')[0] AS first_tok,
            |  CAST(STRPOS(p_name, 'e') AS BIGINT) AS pos_e,
            |  ENDS_WITH(p_name, 't') AS ends_t,
            |  STARTS_WITH(p_name, 'small') AS starts_small,
            |  REGEXP_EXTRACT(p_name, '(red|green|blue)') AS color,
            |  CAST(ARRAY_LENGTH(ARRAY_REVERSE(SPLIT(p_name, ' '))) AS BIGINT) AS n_toks
            |FROM part ORDER BY p_partkey""".stripMargin),
      """SELECT p_partkey,
        |  string_split(p_name, ' ')[1] AS first_tok,
        |  CAST(strpos(p_name, 'e') AS BIGINT) AS pos_e,
        |  ends_with(p_name, 't') AS ends_t,
        |  starts_with(p_name, 'small') AS starts_small,
        |  CASE WHEN regexp_matches(p_name, '(red|green|blue)')
        |       THEN regexp_extract(p_name, '(red|green|blue)', 1) END AS color,
        |  CAST(len(list_reverse(string_split(p_name, ' '))) AS BIGINT) AS n_toks
        |FROM part ORDER BY p_partkey""".stripMargin),

    // FORMAT_TIMESTAMP / PARSE_TIMESTAMP round-trip stability.
    "q_bq_timestamp_fmt" -> QDef(
      (s, dir) =>
        bqSql(s, dir, "orders")(
          """SELECT o_orderkey,
            |  FORMAT_TIMESTAMP('%Y-%m-%d %H:%M:%S', o_orderdate) AS ts_str,
            |  FORMAT_TIMESTAMP('%Y-%m-%d',
            |    PARSE_TIMESTAMP('%Y-%m-%d %H:%M:%S',
            |      FORMAT_TIMESTAMP('%Y-%m-%d %H:%M:%S', o_orderdate))) AS rt
            |FROM orders ORDER BY o_orderkey""".stripMargin),
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  strftime(strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d') AS rt
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Round-4 dialect additions through the SQL surface: epoch
    // extraction, interval arithmetic, JSON scalar extraction, SAFE_
    // arithmetic and integral DIV — one oracle pass over events.
    "q_bq_safe_funcs" -> QDef(
      (s, dir) =>
        bqSql(s, dir, "events")(
          """SELECT event_id,
            |  UNIX_MILLIS(ts) AS ts_ms,
            |  UNIX_MICROS(TIMESTAMP_ADD(ts, INTERVAL 90 MINUTE)) AS plus90m_us,
            |  CAST(JSON_EXTRACT_SCALAR(props, '$.k') AS BIGINT) AS k,
            |  DIV(CAST(JSON_VALUE(props, '$.k') AS BIGINT), 7) AS k_div7,
            |  SAFE_ADD(event_id, 1) AS next_id
            |FROM events ORDER BY event_id""".stripMargin),
      """SELECT event_id,
        |  epoch_ms(ts) AS ts_ms,
        |  epoch_us(ts + INTERVAL 90 MINUTE) AS plus90m_us,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) // 7 AS k_div7,
        |  event_id + 1 AS next_id
        |FROM events ORDER BY event_id""".stripMargin)
  )
}
