package graft.queries

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.engine.{DagTable, GraftSession, SessionManager}

/** End-to-end DAG pipeline as a verifiable query: parquet sources →
  * three dependency-ordered materialized derived tables → final result.
  * The DuckDB oracle is the flattened CTE equivalent, proving the
  * materializing executor computes exactly what the declarative SQL says
  * (reference: adaptors/clojure/test/bq_runner/dag_test.clj
  * test-dag-complex-pipeline).
  *
  * Each call runs in its own engine session and closes the previous
  * call's, whose result the caller has consumed by then.
  */
object EngineQueries {

  private val previous = new java.util.concurrent.atomic.AtomicReference[GraftSession]()

  /** Derived-stage SQL, in dependency order — exposed for
    * BQCompatShadowSpec (these strings run inside a dialect session).
    *
    * Money discipline (see Money.scala): o_totalprice is a double
    * column, and a double SUM's value depends on partitioning order —
    * at sf10 the two engines rounded a .xx5 boundary apart. Summing
    * exact DECIMAL(12,2) is order-independent.
    */
  private[graft] val DagSqls: Seq[(String, String)] = Seq(
    "cust_totals" ->
      "SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total, COUNT(*) AS cnt FROM orders_src GROUP BY o_custkey",
    "cust_enriched" ->
      """SELECT c.c_custkey, c.c_mktsegment, t.total, t.cnt
        |FROM customer_src c JOIN cust_totals t ON c.c_custkey = t.o_custkey""".stripMargin,
    "segment_stats" ->
      """SELECT c_mktsegment, CAST(ROUND(SUM(total), 2) AS DOUBLE) AS seg_total,
        |  CAST(SUM(cnt) AS BIGINT) AS seg_orders, COUNT(*) AS n_customers
        |FROM cust_enriched GROUP BY c_mktsegment""".stripMargin)

  val defs: Map[String, QDef] = Map(
    "q_dag_pipeline" -> QDef(
      (s: SparkSession, dir: String) => {
        val session = new SessionManager(s).create()
        Option(previous.getAndSet(session)).foreach(_.close())
        session.dag.register(Seq(
          DagTable.view("orders_src", Tables(session.spark, dir, "orders")),
          DagTable.view("customer_src", Tables(session.spark, dir, "customer"))) ++
          DagSqls.map { case (name, sql) => DagTable.derived(name, sql) })
        val res = session.dag.run()
        if (!res.allSucceeded)
          throw new IllegalStateException(s"DAG run failed: ${res.failed} skipped=${res.skipped}")
        session.sql("SELECT * FROM segment_stats ORDER BY c_mktsegment")
      },
      """WITH cust_totals AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total, COUNT(*) AS cnt
        |  FROM orders GROUP BY o_custkey),
        |cust_enriched AS (
        |  SELECT c.c_custkey, c.c_mktsegment, t.total, t.cnt
        |  FROM customer c JOIN cust_totals t ON c.c_custkey = t.o_custkey)
        |SELECT c_mktsegment, CAST(ROUND(SUM(total), 2) AS DOUBLE) AS seg_total,
        |  CAST(SUM(cnt) AS BIGINT) AS seg_orders, COUNT(*) AS n_customers
        |FROM cust_enriched GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  )
}
