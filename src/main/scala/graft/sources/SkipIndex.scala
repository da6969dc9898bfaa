package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.{Money, QDef}

/** File-level data-skipping index: per-file min/max statistics
  * materialized once, then used to prune the FILE LIST of a scan before
  * Spark ever opens a footer.
  *
  * Parquet row-group statistics already skip inside a file, but the
  * driver still lists, opens, and reads the footer of every file in the
  * directory — at 100 TB (hundreds of thousands of files) the listing
  * and footer I/O dominate short range scans. An external index (the
  * pattern behind Delta's data skipping and Hyperspace) reduces that to
  * one tiny index read plus only the qualifying files. Pruning is sound
  * only for files whose [min,max] interval misses the predicate range
  * entirely; qualifying files still apply the residual filter, so a
  * false-positive file costs time, never correctness.
  *
  * The index itself is built distributed (a groupBy over
  * input_file_name) and is O(files × indexed columns) — small enough to
  * collect at the driver for pruning, the same way a table format keeps
  * stats in its transaction log.
  */
object SkipIndex {

  /** Per-file min/max of `column` over every parquet file under `dataDir`. */
  def build(spark: SparkSession, dataDir: String, column: String): DataFrame =
    spark.read.parquet(dataDir)
      .select(input_file_name().as("file"), col(column))
      .groupBy("file")
      .agg(min(col(column)).as("min_v"), max(col(column)).as("max_v"))

  /** Read only the files whose [min_v, max_v] interval intersects the
    * half-open range [lo, hi), with the residual filter re-applied.
    * `index` is the (small) output of [[build]]; only file paths travel
    * to the driver.
    */
  def prunedRead(
      spark: SparkSession,
      index: DataFrame,
      column: String,
      lo: String,
      hi: String): DataFrame = {
    val keep = index
      .filter(col("max_v") >= lo && col("min_v") < hi)
      .select("file")
      .collect()
      .map(_.getString(0))
    require(keep.nonEmpty, s"skip index pruned every file for [$lo,$hi)")
    spark.read.parquet(keep.toIndexedSeq: _*)
      .filter(col(column) >= lo && col(column) < hi)
  }

  /** Files that survive pruning for [lo, hi) — exposed for the spec that
    * proves the index actually skips.
    */
  def survivingFiles(index: DataFrame, lo: String, hi: String): (Long, Long) = {
    val total = index.count()
    val kept = index.filter(col("max_v") >= lo && col("min_v") < hi).count()
    (kept, total)
  }

  /** lineitem laid out range-clustered by l_shipdate (16 files), indexed,
    * then a one-quarter revenue scan through the pruned read. The oracle
    * computes the same aggregate from the original table, so a pruning
    * bug that drops a qualifying file fails the hash gate.
    */
  /** Parquet data files under `dir`, lexicographically sorted — listed
    * through the Hadoop FileSystem API (portable to HDFS/S3), metadata
    * only, no data read.
    */
  private def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(_.toString).sorted.toIndexedSeq
  }

  val defs: Map[String, QDef] = Map(

    // Block (whole-file) sampling estimation: lineitem laid out hash-
    // partitioned into 16 files (each file ≈ a uniform row sample, since
    // the partitioner hashes the key), then totals are ESTIMATED from a
    // deterministic 1-in-4 of the files — every 4th of the sorted list —
    // scaled by the sampling factor. Only the sampled files are opened;
    // at 100 TB this is the "scan 1% of blocks, extrapolate" survey scan
    // that answers sizing questions without a full pass. Exact totals
    // (the oracle anchor) come from the full table; the estimate gates
    // at ±10% as hashable booleans.
    "q_block_sample_est" -> QDef(
      (s, dir) => {
        val out = graft.Scratch.dir("blocksample-").toString
        Tables(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .repartition(16, col("l_orderkey"))
          .write.mode("overwrite").parquet(out)
        val files = listParquet(s, out)
        val sampled = files.zipWithIndex.collect { case (f, i) if i % 4 == 0 => f }
        val factor = files.length.toDouble / sampled.length
        val est = s.read.parquet(sampled: _*)
          .agg(count(lit(1)).as("s_rows"),
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("s_rev"))
        // Exact DECIMAL revenue sum (Money): the double formulation
        // drifted past the cent boundary at the sf10 row count — a
        // double SUM's value depends on partitioning order.
        val exact = Tables(s, dir, "lineitem")
          .agg(count(lit(1)).as("n_exact"),
            sum(Money.revenue).as("rev_exact_dec"))
        // Gate width is a documented statistical bound, not a guess:
        // under the multinomial model the estimate's relative σ is
        // √(3/N_eff) with N_eff = rows/cluster-size (orderkey hashing
        // keeps each order's ~4 lineitems in one file). At the smallest
        // SF we run (sf0.001, ~6k rows → N_eff ≈ 1.5k) that is ≈4.5%,
        // so ±20% is a ≥4σ gate there and ≥14σ at sf0.01+ — wide
        // enough that a generator or SF change cannot flake it while
        // still failing on any real estimator bug (wrong factor, missed
        // file, double count all err by ≥25%).
        exact.crossJoin(broadcast(est))
          .select(
            col("n_exact"),
            round(col("rev_exact_dec"), 2).cast("double").as("rev_exact"),
            (abs(col("s_rows") * factor - col("n_exact"))
              <= col("n_exact") * 0.20).as("rows_est_ok"),
            (abs(col("s_rev") * factor - col("rev_exact_dec").cast("double"))
              <= col("rev_exact_dec").cast("double") * 0.20).as("rev_est_ok"))
      },
      s"""SELECT COUNT(*) AS n_exact,
        |  ${Money.revenueSumSql2} AS rev_exact,
        |  true AS rows_est_ok, true AS rev_est_ok
        |FROM lineitem""".stripMargin),

    "q_skipindex_scan" -> QDef(
      (s, dir) => {
        val out = graft.Scratch.dir("skipidx-").toString
        Tables(s, dir, "lineitem")
          .select("l_shipdate", "l_extendedprice", "l_discount", "l_quantity")
          .repartitionByRange(16, col("l_shipdate"))
          .write.mode("overwrite").parquet(out)
        val idx = build(s, out, "l_shipdate")
        // Exact DECIMAL revenue (Money — the sf10 sweep caught the
        // double SUM 4 cents off the oracle at 2.1M matching rows).
        prunedRead(s, idx, "l_shipdate", "1995-01-01", "1995-04-01")
          .agg(
            count(lit(1)).as("n_rows"),
            Money.revenueSum2.as("revenue"),
            sum(col("l_quantity")).cast("double").as("sum_qty"))
      },
      s"""SELECT COUNT(*) AS n_rows,
        |  ${Money.revenueSumSql2} AS revenue,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'""".stripMargin)
  )
}
