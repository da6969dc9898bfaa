package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Iterative graph analytics over relational data: PageRank on the
  * nation-level trade graph (supplier nation → customer nation, edge
  * weight = shipment count — the TPC-H Q7 flow matrix).
  *
  * Scale shape: the edge list aggregates once from the fact join
  * (partial-aggregated to |src×dst| ≤ |nations|² rows); each PageRank
  * iteration joins the rank vector (|nodes| rows — broadcast) against
  * the edges map-only and reduces contributions per destination with a
  * partial agg, so per-iteration shuffle is O(|edges|) never O(facts).
  * The same loop runs unchanged on a billion-edge graph where ranks no
  * longer broadcast — the join degrades to a shuffle join on src, still
  * O(|edges|). Three fixed iterations, damping 0.85; dangling mass is
  * deliberately NOT redistributed (identical formula in the oracle).
  */
object GraphOps {

  /** (src, dst, w): shipment counts between supplier and customer
    * nations — joins are all key-equi and the two nation dims broadcast.
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val ord = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
    val cust = Tables(s, dir, "customer").select("c_custkey", "c_nationkey")
    val supp = Tables(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val nat = Tables(s, dir, "nation").select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("snk"), col("n_name").as("src"))),
        col("s_nationkey") === col("snk"))
      .join(broadcast(nat.select(col("n_nationkey").as("cnk"), col("n_name").as("dst"))),
        col("c_nationkey") === col("cnk"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  val defs: Map[String, QDef] = Map(

    "q_pagerank" -> QDef(
      (s, dir) => {
        // The edge list and everything derived from it are ≤|nations|²
        // rows but sit on top of the full lineitem⋈orders fact join —
        // and Spark performs no cross-subtree common-plan elimination,
        // so as plain DataFrames the fact join would re-execute once
        // per plan reference (m ×3 iterations, nodes ×3, plus the
        // count ≈ 7×). Cache all three.
        val edges = Materialize.cache(tradeEdges(s, dir))
        // Row-count share of each out-edge; tot is integral so the
        // division is a single exact-rounded double op on both engines.
        val m = Materialize.cache(edges
          .join(edges.groupBy("src").agg(sum("w").as("tot")), "src")
          .select(col("src"), col("dst"), (col("w") / col("tot").cast("double")).as("share")))
        val nodes = Materialize.cache(edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node"))).distinct())
        // |nodes| rides along as a broadcast one-row aggregate (the
        // oracle's nn CTE) instead of a driver-side count(): profiling
        // showed the query is overhead-bound, not data-bound — a
        // separate count job plus per-iteration materialization cost
        // ~1s of pure job-scheduling on 25-row data. One action means
        // one job: the fact join runs once into the cache and the
        // three iterations fuse into the same execution.
        val nn = broadcast(nodes.agg(count(lit(1)).as("n_nodes")))
        var ranks = nodes.crossJoin(nn)
          .select(col("node"), (lit(1.0) / col("n_nodes")).as("rank"))
        for (_ <- 1 to 3) {
          val contrib = m.join(broadcast(ranks), col("src") === col("node"))
            .groupBy(col("dst"))
            .agg(sum(col("rank") * col("share")).as("c"))
          ranks = nodes.crossJoin(nn)
            .join(contrib, col("node") === col("dst"), "left")
            .select(col("node"),
              (lit(0.15) / col("n_nodes") + lit(0.85) * coalesce(col("c"), lit(0.0))).as("rank"))
        }
        ranks.select(col("node"), round(col("rank"), 4).as("rank")).orderBy("node")
      },
      """WITH edges AS (
        |  SELECT sn.n_name AS src, cn.n_name AS dst, COUNT(*) AS w
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT e.src, e.dst, e.w / CAST(t.tot AS DOUBLE) AS share
        |  FROM edges e JOIN (SELECT src, SUM(w) AS tot FROM edges GROUP BY src) t
        |  USING (src)),
        |nodes AS (SELECT DISTINCT src AS node FROM edges
        |          UNION SELECT DISTINCT dst FROM edges),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |r0 AS (SELECT node, 1.0e0 / n AS rank FROM nodes, nn),
        |r1 AS (SELECT nodes.node, 0.15e0 / n + 0.85e0 * COALESCE(c.c, 0.0e0) AS rank
        |       FROM nodes CROSS JOIN nn LEFT JOIN (
        |         SELECT m.dst, SUM(r0.rank * m.share) AS c
        |         FROM m JOIN r0 ON r0.node = m.src GROUP BY m.dst) c
        |       ON c.dst = nodes.node),
        |r2 AS (SELECT nodes.node, 0.15e0 / n + 0.85e0 * COALESCE(c.c, 0.0e0) AS rank
        |       FROM nodes CROSS JOIN nn LEFT JOIN (
        |         SELECT m.dst, SUM(r1.rank * m.share) AS c
        |         FROM m JOIN r1 ON r1.node = m.src GROUP BY m.dst) c
        |       ON c.dst = nodes.node),
        |r3 AS (SELECT nodes.node, 0.15e0 / n + 0.85e0 * COALESCE(c.c, 0.0e0) AS rank
        |       FROM nodes CROSS JOIN nn LEFT JOIN (
        |         SELECT m.dst, SUM(r2.rank * m.share) AS c
        |         FROM m JOIN r2 ON r2.node = m.src GROUP BY m.dst) c
        |       ON c.dst = nodes.node)
        |SELECT node, ROUND(rank, 4) AS rank FROM r3 ORDER BY node""".stripMargin),

    // §2 25fr BFS hop distances on the SPARSIFIED trade graph: keep
    // edges with weight ≥ 1.5× the mean (as the exact integer
    // inequality 2·w·|E| ≥ 3·Σw — scale-invariant, so the graph keeps
    // real multi-hop structure at every SF), then three unrolled
    // min-plus rounds from the alphabetically-first nation. Each round
    // joins the ≤|nations| distance vector (broadcast) against the
    // edge list and partial-aggregates the min — the same per-iteration
    // shape as PageRank, O(|edges|) forever. Unreached nodes report -1.
    "q_bfs_hops" -> QDef(
      (s, dir) => {
        val all = Materialize.cache(tradeEdges(s, dir))
        val tot = broadcast(all.agg(
          sum("w").as("totw"), count(lit(1)).as("ne")))
        val edges = Materialize.cache(all.crossJoin(tot)
          .filter(col("w") * col("ne") * 2L >= col("totw") * 3L)
          .select("src", "dst"))
        val nodes = Tables(s, dir, "nation").select(col("n_name").as("node"))
        val src = nodes.agg(min("node").as("node"))
        var dist = broadcast(src).withColumn("d", lit(0L))
        for (_ <- 1 to 3) {
          val step = edges.join(broadcast(dist), col("src") === col("node"))
            .select(col("dst").as("node"), (col("d") + 1L).as("d"))
          dist = dist.unionByName(step).groupBy("node").agg(min("d").as("d"))
        }
        nodes.join(dist, Seq("node"), "left")
          .select(col("node"), coalesce(col("d"), lit(-1L)).as("hops"))
          .orderBy("node")
      },
      """WITH e0 AS (
        |  SELECT sn.n_name AS src, cn.n_name AS dst, COUNT(*) AS w
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT SUM(w) AS totw, COUNT(*) AS ne FROM e0),
        |e AS (SELECT src, dst FROM e0 CROSS JOIN tot WHERE w * ne * 2 >= totw * 3),
        |r0 AS (SELECT MIN(n_name) AS node, CAST(0 AS BIGINT) AS d FROM nation),
        |r1 AS (SELECT node, MIN(d) AS d FROM (
        |  SELECT node, d FROM r0
        |  UNION ALL SELECT e.dst, r0.d + 1 FROM e JOIN r0 ON e.src = r0.node) GROUP BY 1),
        |r2 AS (SELECT node, MIN(d) AS d FROM (
        |  SELECT node, d FROM r1
        |  UNION ALL SELECT e.dst, r1.d + 1 FROM e JOIN r1 ON e.src = r1.node) GROUP BY 1),
        |r3 AS (SELECT node, MIN(d) AS d FROM (
        |  SELECT node, d FROM r2
        |  UNION ALL SELECT e.dst, r2.d + 1 FROM e JOIN r2 ON e.src = r2.node) GROUP BY 1)
        |SELECT n_name AS node, COALESCE(r3.d, -1) AS hops
        |FROM nation LEFT JOIN r3 ON n_name = r3.node
        |ORDER BY node""".stripMargin),

    // Triangle counting on the co-order part graph (parts appearing in
    // the same order are connected), DEGREE-ordered: every undirected
    // edge is oriented from its lower-(degree, id) endpoint to the
    // higher one, wedges pivot on the common SOURCE, and the closing
    // edge is probed in the same orientation — each triangle counts
    // exactly once (its minimum-rank vertex owns both wedge arms).
    // Orientation bounds every out-degree by O(√m), so wedge fan-out is
    // Σ outdeg² = O(m^1.5) even when a hub vertex touches half the
    // graph — the bound id-ordering cannot give on skewed graphs. The
    // degree table is |nodes| rows (broadcast); the total count is
    // orientation-invariant, so the oracle keeps the simpler id-ordered
    // closure. The node-id filter bounds the demo subgraph and pushes
    // to both scans. The edge list is referenced five times downstream
    // (degrees, two wedge arms, closure probe, edge count) — cache it
    // or Spark re-executes the fact self-join per reference.
    "q_triangle_count" -> QDef(
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .filter(col("l_partkey") < 300)
          .select(col("l_orderkey"), col("l_partkey"))
        val und = Materialize.cache(li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
          .distinct())
        val deg = und.select(col("u").as("x"))
          .union(und.select(col("v").as("x")))
          .groupBy("x").agg(count(lit(1)).as("d"))
        val lowFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
        val e = und
          .join(broadcast(deg.select(col("x").as("u"), col("d").as("du"))), "u")
          .join(broadcast(deg.select(col("x").as("v"), col("d").as("dv"))), "v")
          .select(
            when(lowFirst, col("u")).otherwise(col("v")).as("s"),
            when(lowFirst, col("v")).otherwise(col("u")).as("t"),
            // Rank tuple of the target — orders the two arms of a wedge.
            when(lowFirst, struct(col("dv").as("d"), col("v").as("id")))
              .otherwise(struct(col("du").as("d"), col("u").as("id"))).as("trank"))
        val wedges = e.as("e1").join(e.as("e2"),
            col("e1.s") === col("e2.s") && col("e1.trank") < col("e2.trank"))
          .select(col("e1.t").as("wv"), col("e2.t").as("ww"))
        val tri = wedges.join(e.as("e3"),
            col("wv") === col("e3.s") && col("ww") === col("e3.t"))
          .agg(count(lit(1)).as("n_triangles"))
        und.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(tri))
      },
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey < 300 AND b.l_partkey < 300)
        |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
        |       (SELECT COUNT(*) FROM e e1
        |        JOIN e e2 ON e1.v = e2.u
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin)
  )
}
