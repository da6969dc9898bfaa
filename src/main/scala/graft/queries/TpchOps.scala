package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Additional TPC-H headline queries (adapted to the driver's synthetic
  * schema — no o_shippriority/l_commitdate columns, so predicates use the
  * columns that exist).
  *
  * Q6 is the pushdown showcase: every predicate reaches the parquet scan
  * (PushedFilters), the projection prunes to 3 columns, and the whole
  * query is one map-side scan + a single-row aggregate. Q12 and Q14 are
  * the conditional-aggregation join patterns.
  */
object TpchOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val defs: Map[String, QDef] = Map(

    // TPC-H Q6 forecasting revenue change: pure scan-filter-aggregate.
    "q_tpch_q6" -> QDef(
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(
            col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
              col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue")),
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    // TPC-H Q12-style shipping modes / priority classes: join + CASE agg.
    // (Synthetic schema has no l_shipmode — l_returnflag plays its role.)
    "q_tpch_q12" -> QDef(
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
        val o = t(s, dir, "orders")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
              .as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
              .as("low_line_count"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // TPC-H Q14-style promotion effect: conditional revenue share over a
    // month of shipments, part side broadcast.
    "q_tpch_q14" -> QDef(
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= "1996-03-01" && col("l_shipdate") < "1996-04-01")
        val p = t(s, dir, "part")
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          // Exact DECIMAL sums ([[Money]]) + one fixed-order double
          // expression mirrored in the oracle.
          .agg(round(
            lit(100.0) * sum(when(col("p_type").startsWith("PROMO"), Money.revenue)
              .otherwise(lit(BigDecimal("0.00")))).cast("double") /
              sum(Money.revenue).cast("double"), 4).as("promo_revenue"))
      },
      s"""SELECT ROUND(100.0e0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN ${Money.revenueSql} ELSE CAST('0.00' AS DECIMAL(3,2)) END) AS DOUBLE) /
        |  CAST(SUM(${Money.revenueSql}) AS DOUBLE), 4) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'""".stripMargin),

    // TPC-H Q15 top supplier: revenue per supplier over a quarter, keep
    // the max. The max-filter joins the UNROUNDED per-engine totals (a
    // rounded compare could tie-flip at the half-cent); rounding happens
    // only at output.
    "q_tpch_q15" -> QDef(
      (s, dir) => {
        val rev = Materialize.cache(t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
          .groupBy(col("l_suppkey"))
          // Exact DECIMAL totals ([[Money]]): the max-filter
          // equality join compares EXACT values, so it cannot tie-flip
          // under any partitioning — the cache below is now belt-and-
          // suspenders (one evaluation is still cheaper than two).
          .agg(sum(Money.revenue).as("tr")))
        val mx = rev.agg(max("tr").as("mx"))
        rev.join(broadcast(mx), rev("tr") === mx("mx"))
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("tr"), 2).cast("double").as("total_revenue"))
          .orderBy("s_suppkey")
      },
      s"""WITH revenue AS (
        |  SELECT l_suppkey, SUM(${Money.revenueSql}) AS tr
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(ROUND(tr, 2) AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE tr = (SELECT MAX(tr) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q18 large-volume customers: orders whose total quantity
    // clears a threshold (the 150.005 cut sits between the 2-decimal
    // quantity-sum lattice points so float noise can't flip membership),
    // joined back for customer detail, top-100.
    "q_tpch_q18" -> QDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val big = li.groupBy("l_orderkey")
          .agg(sum("l_quantity").as("total_qty"))
          .filter(col("total_qty") > 150.005)
        val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer")
        big.join(ord, big("l_orderkey") === ord("o_orderkey"))
          .join(cust, ord("o_custkey") === cust("c_custkey"))
          .select(
            col("c_custkey"), col("c_name"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
            col("o_totalprice"), round(col("total_qty"), 2).as("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      """SELECT c_custkey, c_name, o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
        |  o_totalprice, ROUND(total_qty, 2) AS total_qty
        |FROM (
        |  SELECT l_orderkey, SUM(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 150.005) big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
  )
}
