package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Near-duplicate CLUSTERING: connected components over the verified
  * near-dup pair graph, with one canonical document per cluster — the
  * step a real dedup pipeline runs after pair detection (keep the
  * canonical doc, drop the rest).
  *
  * The component labels come from iterative min-label propagation
  * ("hash-to-min"): every node starts labeled with its own id; each round
  * every node takes the min of its label and its neighbors' labels. A
  * round is one join + one aggregate — all shuffle-partitioned by node
  * id, nothing driver-sided except the convergence check (a count). The
  * iteration count is the component diameter, and near-dup clusters are
  * shallow (dozens of docs, diameter ≤ ~3), so this converges in a few
  * rounds at any corpus size; per-round lineage is cut with
  * localCheckpoint so 100 TB runs don't accumulate a mile-long plan.
  */
object ClusterOps {

  /** Min-label propagation over an undirected edge list (src, dst).
    *
    * Convergence check: every node's label is non-increasing, so the
    * label SUM strictly decreases on any round that changes anything —
    * one cheap scalar aggregate over the just-checkpointed frame replaces
    * a join-based changed-row probe (halves the per-round job count; the
    * per-round fixed cost dominates on shallow near-dup graphs). Edges
    * are pre-hash-partitioned on the probe key so the per-round join
    * never re-exchanges the static side.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = Materialize.checkpoint(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src")), eager = true)
    // Lazy checkpoints throughout the loop: the convergence probe
    // (labelSum) is the action that materializes each round's frame, so
    // a round costs ONE job instead of two (eager checkpoint + probe).
    // On shallow near-dup graphs the per-round fixed cost IS the
    // operator's cost, so halving the job count halves the wall.
    var labels = Materialize.checkpoint(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")), eager = false)
    // Explicit cast: sum over a non-integral label type would return
    // Double/Decimal (ClassCastException here) or — worse — null→0,
    // which would report convergence after one round. Fail loudly on a
    // schema change instead.
    def labelSum(df: DataFrame): Long =
      Option(df.agg(sum(col("label").cast("long"))).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    var prevSum = labelSum(labels)
    var converged = labels.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      val msgs = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val next = Materialize.checkpoint(labels.union(msgs)
        .groupBy("id").agg(min("label").as("label")), eager = false)
      val s = labelSum(next)
      labels = next
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    labels
  }

  val defs: Map[String, QDef] = Map(

    // §2.3#55 dedup clustering: components of the MinHash near-dup graph,
    // canonical = min doc_id per component, singletons cluster alone.
    "dedup_clusters" -> QDef(
      (s, dir) => {
        // Components run on the REP graph (the hot-cluster fix — see
        // TextOps.collapseByContent): a verbatim-
        // duplicate group is ONE node, so a 100-copy clique never enters
        // the iteration (it would contribute C(100,2) edges per round);
        // members inherit their rep's component label afterwards. The
        // labels are identical to doc-level CC: within a group every doc
        // is pairwise-connected (Jaccard 1.0 ≥ τ), so the group is
        // always one component, and its min doc_id IS the rep id.
        val (repPairs, members) = TextOps.minhashRepPairs(s, dir)
        val labels = connectedComponents(
          repPairs.select(col("ra").as("doc_a"), col("rb").as("doc_b")))
        val memberLabel = members
          .join(labels, members("rep") === labels("id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("rep")).as("cluster_id"))
        val sizes = memberLabel.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
          .withColumnRenamed("cluster_id", "sz_cluster")
        Tables(s, dir, "documents").select(col("doc_id"))
          .join(memberLabel.withColumnRenamed("cluster_id", "ml_cluster"),
            Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("ml_cluster"), col("doc_id")).as("cluster_id"))
          .join(sizes, col("cluster_id") === col("sz_cluster"), "left")
          .select(
            col("doc_id"), col("cluster_id"),
            coalesce(col("sz"), lit(1L)).as("cluster_size"),
            (col("doc_id") === col("cluster_id")).cast("long").as("is_canonical"))
          .orderBy("doc_id")
      },
      // Transitive closure via recursive CTE = the same components. Pair
      // generation is the shared subquadratic prefix-filter CTE (see
      // TextOps.jaccardPairsCte) — the closure itself runs over the tiny
      // verified pair set, so WITH RECURSIVE stays cheap at any sweep SF.
      s"""${"WITH RECURSIVE" + TextOps.jaccardPairsCte(langBlocked = false).stripPrefix("WITH")},
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION ALL SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |comp AS (
        |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src),
        |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
        |  CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size,
        |  CAST(CASE WHEN COALESCE(c.cluster_id, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        |FROM documents d
        |LEFT JOIN comp c ON d.doc_id = c.doc_id
        |LEFT JOIN sizes s ON COALESCE(c.cluster_id, d.doc_id) = s.cluster_id
        |ORDER BY d.doc_id""".stripMargin)
  )
}
