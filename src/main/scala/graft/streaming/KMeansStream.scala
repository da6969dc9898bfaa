package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.KMeansOps

/** Streaming mini-batch k-means maintenance (Sculley 2010, "Web-scale
  * k-means clustering") — the online twin of `ml_kmeans_lloyd`: arriving
  * embedding batches refine the cluster centroids without ever
  * re-reading the ingested corpus. Cluster state is SUFFICIENT
  * STATISTICS — per cluster the member count and the exact-decimal
  * per-coordinate sum — so a batch's contribution is one assignment
  * pass (against the centroids implied by the PREVIOUS committed state)
  * plus one (k×dim)-keyed partial aggregation, merged into state by
  * pure decimal addition. O(batch) work regardless of how much has
  * been ingested; the state is k rows forever.
  *
  * Determinism discipline (the ml_kmeans_lloyd contract, streamed):
  * assignments use the same 6-dp-rounded distance + centroid-id
  * tie-break kernel; coordinate sums quantize to 6-dp decimals before
  * aggregation (order-independent at any partitioning); stored sums
  * stay DECIMAL(24,6) through every merge, so state never widens and a
  * replayed batch — which re-reads the snapshot strictly below its own
  * id (the SnapshotStore contract) — re-derives byte-identical state.
  * A cluster that has absorbed nothing serves its INIT centroid
  * (carried in the state) rather than an undefined mean.
  */
object KMeansStream {

  /** Centroids implied by a state frame: mean when the cluster has
    * members, the init centroid otherwise.
    */
  private[graft] def centroidFrame(state: DataFrame): DataFrame =
    state.select(col("cid"),
      when(col("n") > 0,
        transform(col("s"), a => round(a.cast("double") / col("n"), 6)))
        .otherwise(col("c0")).as("cv"))

  private def initFrame(spark: SparkSession, init: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    init.zipWithIndex
      .map { case (c, i) => (i, 0L, c.map(_ => BigDecimal(0)), c) }
      .toDF("cid", "n", "s", "c0")
      .select(col("cid").cast("int").as("cid"), col("n"),
        transform(col("s"), a => a.cast("decimal(24,6)")).as("s"), col("c0"))
  }

  /** Maintain mini-batch k-means state (cid, n, s, c0) at `tableDir`
    * from a stream of (`vec_id` Long, `v` Array[Double]) rows; `init`
    * fixes the k starting centroids (the frozen-model-ships pattern of
    * the ANN sinks — deterministic, never sampled from the stream).
    */
  def kmeansSink(
      vectors: DataFrame, init: Seq[Seq[Double]], tableDir: String,
      checkpointDir: String, retainSnapshots: Int = 3): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(vectors, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, _) =>
        val spark = batch.sparkSession
        val state = prev.getOrElse(initFrame(spark, init))
        val b = batch.select(col("vec_id").cast("long").as("vec_id"), col("v"))
        val asg = KMeansOps.assign(b, centroidFrame(state))
        val parts = asg.select("vec_id", "cid").join(b, "vec_id")
          .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy("cid", "i")
          .agg(sum(round(col("x"), 6).cast("decimal(24,6)")).as("bx"),
            count(lit(1)).as("bn0"))
        // Ragged-dimension guard: per-coordinate counts are identical for
        // every coordinate of a cluster iff every member vector had the
        // same length. A mixed-dimension batch would otherwise let
        // max(bn0) silently pick one count while zip_with nulls the
        // mismatched sums — corrupting state without an error. Fail the
        // batch loudly instead (the checkpoint retries it, surfacing the
        // bad input rather than committing corruption).
        val bstate = parts.groupBy("cid")
          .agg(collect_list(struct(col("i"), col("bx"))).as("a"),
            max("bn0").as("bn"), min("bn0").as("bn_min"))
          .select(col("cid"),
            when(col("bn") === col("bn_min"), col("bn"))
              .otherwise(raise_error(concat(
                lit("KMeansStream: ragged batch vector dimensions for cid="),
                col("cid").cast("string")))).as("bn"),
            transform(array_sort(col("a")), e => e.getField("bx")).as("bs"))
        state.join(bstate, Seq("cid"), "left")
          .select(col("cid"),
            (col("n") + coalesce(col("bn"), lit(0L))).as("n"),
            when(col("bs").isNull, col("s"))
              // Batch-vs-state dimension check: a uniformly-wrong-length
              // batch passes the per-cluster count guard but must not
              // zip against state of a different dimensionality.
              .otherwise(when(size(col("bs")) === size(col("s")),
                zip_with(col("s"), col("bs"),
                  (a, x) => (a + x).cast("decimal(24,6)")))
                .otherwise(raise_error(concat(
                  lit("KMeansStream: batch vector dimension "),
                  size(col("bs")).cast("string"),
                  lit(" != state dimension "),
                  size(col("s")).cast("string"))))).as("s"),
            col("c0"))
    }

  /** Live centroids: (cid, n, cv) from the latest committed snapshot. */
  def centroids(spark: SparkSession, tableDir: String): DataFrame = {
    val snap = SnapshotStore.latest(spark, tableDir).getOrElse(
      throw new IllegalStateException(s"no committed k-means snapshot under $tableDir"))
    centroidFrame(snap).join(snap.select("cid", "n"), "cid")
      .select(col("cid"), col("n"), col("cv"))
  }
}
